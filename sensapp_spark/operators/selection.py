"""Selection pipeline: sensors → time-range scan → per-sensor top-N.

This is the reference's entire query engine (operators Q1-Q11,
src/storage/sqlite/storage.rs:429-489), re-expressed as one declarative
DataFrame plan. The matched set decides between two shapes, with
:func:`probe_sensor_rows` (at most ``ZONEMAP_PROBE_MAX``+1 dimension rows,
0 jobs on the pinned dimension) as the one switch:

    under the cap (probed rows on the driver):

    values scan WHERE sensor_id IN (probed ids)   (zone-map file skipping)
                                  │  time-range filter  (parquet pushdown)
                                  ▼
                    window row_number() ≤ limit per sensor
                                  ▼
        name/type/unit/… = try_element_at(<literal id→meta map>, sensor_id)

    over the cap:

    sensors.filter(matchers) ──broadcast semi-join──▶ values scan
                                  │  time-range filter  (parquet pushdown)
                                  ▼
                    window row_number() ≤ limit per sensor
                                  ▼
                 broadcast left join back to the selected sensors

Scale notes (100 TB posture):

* Under the cap the scan is id-keyed, like the reference's one query per
  type table over resolved ids (src/storage/sqlite/batch_queries.rs:25-116):
  no broadcast exchange runs, and the metadata rides in the plan as a
  literal. Over the cap the sensors dimension is still small (≤ millions
  of rows) while value tables are huge; the semi-join is explicitly
  ``broadcast()`` so the big scan never shuffles for selection.
* The time-range predicate lands in the Parquet scan as ``PushedFilters``
  and prunes month partitions — same effect as the reference's ClickHouse
  ``PARTITION BY toYYYYMM`` (clickhouse init.sql:38).
* Per-sensor LIMIT uses a rank window; Spark's physical planning inserts
  partial top-K (``WindowGroupLimit``) before the shuffle, which is the
  distributed generalization of the reference's PG ``LATERAL … LIMIT``
  pushdown (src/storage/postgresql/batch_queries.rs:192-207) and strictly
  better than the SQLite client-side counting
  (src/storage/sqlite/batch_queries.rs:147-194).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sensapp_spark.config import CONFIG
from sensapp_spark.operators.matchers import LabelMatcher, matchers_predicate


def select_sensors(
    sensors: DataFrame,
    matchers: list[LabelMatcher],
    numeric_only: bool = False,
) -> DataFrame:
    """Operator Q1-Q4: label-matcher sensor selection.

    ``numeric_only`` restricts to Integer/Numeric/Float types
    (reference src/storage/sqlite/matchers.rs:47-50).
    """
    out = sensors.filter(matchers_predicate(matchers))
    if numeric_only:
        out = out.filter(F.col("type").isin("Integer", "Numeric", "Float"))
    return out


def _utc_lit(value: dt.datetime) -> F.Column:
    """Timestamp literal pinned to UTC. PySpark converts a NAIVE datetime
    through the driver *process* timezone — on a TZ≠UTC host that silently
    shifts every bound. All engine timestamps are UTC (reference
    docs/DATAMODEL.md:184-186), so naive inputs mean UTC."""
    if value.tzinfo is None:
        value = value.replace(tzinfo=dt.timezone.utc)
    return F.lit(value)


def time_range(
    df: DataFrame,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    time_col: str = "time",
) -> DataFrame:
    """Operator Q5: inclusive-both-ends time filter, both bounds optional
    (reference src/storage/sqlite/storage.rs:679-693)."""
    if start is not None:
        df = df.filter(F.col(time_col) >= _utc_lit(start))
    if end is not None:
        df = df.filter(F.col(time_col) <= _utc_lit(end))
    return df


def per_sensor_limit(
    df: DataFrame,
    limit: int | None,
    key_col: str = "sensor_id",
    time_col: str = "time",
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Operator Q7: first-N rows per sensor in time order.

    Default limit is 10,000,000 (reference src/storage/mod.rs:15-17). Ties on
    the timestamp are broken by extra columns when provided — the reference
    leaves tie order unspecified (SURVEY §7.4 risk 6); we make it
    deterministic so results are reproducible across runs and engines.
    """
    n = limit if limit is not None else CONFIG.default_query_limit
    order = [F.col(time_col).asc()] + [F.col(c).asc() for c in (tiebreakers or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def query_samples(
    sensors: DataFrame,
    values: DataFrame,
    matchers: list[LabelMatcher],
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    limit: int | None = None,
    numeric_only: bool = False,
    tiebreakers: list[str] | None = None,
    probed: list | None = None,
) -> DataFrame:
    """The full Q1-Q9 pipeline: matcher selection, id-keyed or broadcast
    semi-joined value scan, inclusive time range, per-sensor limit.

    ``probed`` are the matched dimension rows from
    :func:`probe_sensor_rows` with :func:`meta_probe_cols`. Given,
    the scan keeps ``sensor_id IN (ids)`` and the metadata is attached
    from a literal (no join, no broadcast). ``None`` (a match over the
    probe cap, or a caller without a probe) keeps the broadcast plan.

    Returns the value columns followed by ``name, type, unit,
    unit_description, labels`` — result assembly (Q9).
    """
    if probed is None:
        selected = select_sensors(sensors, matchers, numeric_only)
        # Broadcast the (small) selected-sensor set into the (huge)
        # value scan: a broadcast hash semi-join — no shuffle of the
        # fact table.
        scan = values.join(
            F.broadcast(selected.select("sensor_id")), "sensor_id", "leftsemi"
        )
    else:
        scan = values.filter(ids_in([r.sensor_id for r in probed]))
    scan = time_range(scan, start, end)
    scan = per_sensor_limit(scan, limit, tiebreakers=tiebreakers)
    # Ordering guarantee (Q6): the limit window leaves rows partitioned by
    # sensor and time-sorted within each sensor — the same per-series
    # order the reference returns. A GLOBAL orderBy here would add a full
    # range-exchange for nothing; exporters that need total order sort at
    # the edge.
    if probed is None:
        return scan.join(F.broadcast(selected), "sensor_id", "left")
    return with_sensor_meta(scan, probed)


META_COLS = ("name", "type", "unit", "unit_description", "labels")


def sql_str(value: str | None) -> str:
    """``value`` as a SQL STRING literal for :func:`F.expr`: its UTF-8
    bytes as a hex binary literal cast back to STRING, which Catalyst
    folds to a plain literal. No character needs escaping, whatever
    the parser's string-literal settings."""
    if value is None:
        return "CAST(NULL AS STRING)"
    return f"CAST(X'{value.encode().hex()}' AS STRING)"


def ids_in(ids: Sequence[str], col: str = "sensor_id") -> Column:
    """``col IN (ids)`` built as ONE ``F.expr`` (the ``sql_array_lit``
    lesson): ``Column.isin`` sends one py4j ``lit`` per id, and those
    driver round-trips cost more than the scan of a small read. It
    plans and pushes into Parquet exactly like ``isin``; no ids
    matches nothing."""
    if not ids:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(map(sql_str, ids))})")


def meta_probe_cols() -> list[Column]:
    """The :data:`META_COLS` as a probe collects them for
    :func:`with_sensor_meta`: ``labels`` as its ``map_entries``. A
    collected map comes back in Java ``HashMap`` order; the entries
    array keeps the stored key order, which ``to_json`` of the map
    (jsonl, arrow) prints."""
    return [F.col(c) for c in META_COLS[:-1]] + [
        F.map_entries("labels").alias("labels")
    ]


_META_TYPE = (
    "struct<name:string,type:string,unit:string,unit_description:string,"
    "labels:map<string,string>>"
)


def with_sensor_meta(df: DataFrame, rows: list) -> DataFrame:
    """Append the :data:`META_COLS` of each row's sensor from driver-side
    dimension ``rows`` (collected with :func:`meta_probe_cols`): one
    literal ``sensor_id → struct`` map read with
    ``try_element_at`` — Catalyst folds it to a single map literal, so
    the plan carries the metadata with no join and no broadcast job. An
    id missing from ``rows`` gets nulls, like the left join it
    replaces. The map is ONE ``F.expr`` string, because ``F.lit`` and
    ``F.struct`` cost about 100 py4j round-trips per sensor."""
    entries = []
    # Keyed by id so a duplicated dimension row cannot fail the map
    # literal on a duplicate key.
    for r in {r.sensor_id: r for r in rows}.values():
        fields = ", ".join(
            f"'{c}', {sql_str(getattr(r, c))}" for c in META_COLS[:-1]
        )
        labels = ", ".join(sql_str(x) for kv in r.labels or () for x in kv)
        entries.append(
            f"{sql_str(r.sensor_id)}, CAST(named_struct({fields}, "
            f"'labels', map({labels})) AS {_META_TYPE})"
        )
    table = (
        f"map({', '.join(entries)})"
        if entries
        else f"CAST(NULL AS map<string,{_META_TYPE}>)"
    )
    meta = F.expr(f"try_element_at({table}, sensor_id)")
    return df.select("*", *(meta.getField(c).alias(c) for c in META_COLS))


def fetch_series(
    sensors: DataFrame,
    values: DataFrame,
    sensor_id: str,
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Operator Q11: single-series fetch by UUID with optional range/limit
    (reference src/storage/sqlite/storage.rs:275-427)."""
    meta = sensors.filter(F.col("sensor_id") == sensor_id)
    scan = time_range(values.filter(F.col("sensor_id") == sensor_id), start, end)
    n = limit if limit is not None else CONFIG.default_query_limit
    scan = scan.orderBy("time").limit(n)
    return scan.join(F.broadcast(meta), "sensor_id", "left")


def dedup_values(values: DataFrame) -> DataFrame:
    """Offline dedupe: drop duplicate (sensor_id, time, value) rows
    (reference src/storage/sqlite/storage.rs:632-661 — DELETE keeping
    MIN(rowid), here a distributed ``dropDuplicates`` rewrite)."""
    return values.dropDuplicates(["sensor_id", "time", "value"])


def probe_sensor_rows(
    selected: DataFrame, extra_cols: Sequence[str | Column] = ()
) -> list | None:
    """THE bounded dimension probe for zone-map file skipping and the
    id-keyed scan (shared by :func:`query_all_types`, the gateway's raw
    reads and the HTTP PromQL paths so the cap semantics can never
    diverge): collect at most PROBE_MAX+1 matched rows — 0 jobs on the
    pinned dimension; return them when the match fits under the cap,
    else None (caller keeps the full scan + broadcast semi-join plan)."""
    from sensapp_spark.storage.lake import ZONEMAP_PROBE_MAX

    rows = (
        selected.select("sensor_id", *extra_cols)
        .limit(ZONEMAP_PROBE_MAX + 1)
        .collect()
    )
    return rows if len(rows) <= ZONEMAP_PROBE_MAX else None


def query_all_types(
    lake,
    matchers: list[LabelMatcher],
    start: dt.datetime | None = None,
    end: dt.datetime | None = None,
    limit: int | None = None,
    numeric_only: bool = False,
) -> dict:
    """Operator Q8/Q9: per-type scan dispatch over a SensorLake.

    The reference groups selected sensors by SensorType and issues one
    batch query per type table (src/storage/sqlite/batch_queries.rs:25-116;
    the PG backend runs the 8 queries concurrently via tokio::spawn).
    Spark's equivalent concurrency is free: each returned DataFrame is an
    independent job over its own table, and a caller that materializes
    them together gets stage-level parallelism. Sensors whose type table
    has no matching rows simply produce an empty frame — the analogue of
    the reference's empty-result pre-fill (storage.rs:459-475).

    Returns {SensorType: DataFrame} for exactly the types the matched
    sensors use — unmatched type tables are never scanned.
    """
    from sensapp_spark.datamodel.types import SensorType

    selected = select_sensors(lake.sensors(), matchers, numeric_only)
    # Matcher queries typically select a handful of series out of the
    # whole dimension — probe for that case (bounded collect: at most
    # PROBE_MAX+1 dimension rows) and, when it holds, hand the ids to
    # the scan so the zone map FILE-SKIPS the fact table before any IO.
    # Over the cap, the broadcast semi-join below is the right plan and
    # the type set comes from the (cheaper) distinct collect instead.
    probe = probe_sensor_rows(selected, extra_cols=meta_probe_cols())
    rows_by_type: dict[str, list] | None
    if probe is not None:
        rows_by_type = {}
        for r in probe:
            rows_by_type.setdefault(r.type, []).append(r)
        type_labels = list(rows_by_type)
    else:
        rows_by_type = None
        type_labels = [
            r.type for r in selected.select("type").distinct().collect()
        ]
    out = {}
    for label in type_labels:
        stype = SensorType.from_label(label)
        probed = None if rows_by_type is None else rows_by_type[label]
        ids = None if probed is None else [r.sensor_id for r in probed]
        values = lake.values(stype, start, end, sensor_ids=ids)
        out[stype] = query_samples(
            selected, values, matchers, start=start, end=end,
            limit=limit, numeric_only=numeric_only, probed=probed,
        )
    return out


def per_sensor_limit_salted(
    df: DataFrame,
    limit: int,
    salt_partitions: int = 16,
    key_col: str = "sensor_id",
    time_col: str = "time",
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Skew-resistant per-sensor top-N: two-phase top-K.

    ``WindowGroupLimit`` already prunes map-side, but ALL surviving rows
    of one sensor still land in a single reduce partition — a hot sensor
    with billions of in-range rows serializes on one task. Phase 1 ranks
    within (sensor, salt) — ``salt_partitions``-way parallel, each
    emitting ≤ limit rows; phase 2 re-ranks the ≤ limit·salt survivors
    per sensor. Same result set as ``per_sensor_limit`` for any input.

    Use for small limits over possibly-degenerate key distributions; the
    plain window is better when limit is huge (salting multiplies the
    intermediate by salt_partitions).
    """
    order = [F.col(time_col).asc()] + [F.col(c).asc() for c in (tiebreakers or [])]
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                         F.lit(salt_partitions)),
    )
    w1 = Window.partitionBy(key_col, "__salt").orderBy(*order)
    phase1 = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= limit)
        .drop("__rn", "__salt")
    )
    return per_sensor_limit(phase1, limit, key_col, time_col, tiebreakers)
