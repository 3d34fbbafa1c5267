"""Continuous aggregates: an incrementally-maintained rollup table over
a typed value table — the Timescale continuous-aggregate / ClickHouse
AggregatingMergeTree analogue, composed from the lake's own primitives.

The reference has no materialized aggregates at all (every dashboard
query re-aggregates raw rows — src/storage/*/queries re-scan per call);
at 100 TB that re-scan is the difference between a dashboard and a
batch job. This module keeps a small bucketed table
``(sensor_id, bucket, cnt, vsum, vmin, vmax)`` continuously correct
with work per refresh proportional to WHAT CHANGED, never to the table:

    refresh = poll changes() → recompute exactly the affected buckets
              from the base table → commit [unaffected months hardlink].

ONE rule — "affected buckets are recomputed from the base" — covers
every crossing the feed can hand us, because recomputation is
idempotent and delete-safe:

* appends touch their buckets; the recompute re-reads those buckets'
  raw rows (zone-map/month-pruned) and replaces the rollup rows;
* ``delete_where`` / ``erase_sensor`` arrive as CDC delete rows whose
  buckets recompute to their new (possibly empty) state;
* ``expire_before`` arrives as lazy whole-month deletes — the months
  recompute against a base that no longer has them and drop out;
* a feed RESET (laggard cursor, vacuumed link) falls back to a full
  rebuild — priced honestly, never guessed around.

Exactly-once: the changes-feed cursor commits ATOMICALLY with the
rollup version (``_rollup_meta.json`` inside the version dir — the same
cursor-rides-the-commit idea as ``streaming/ann_maintenance.py``). A
crash before the commit re-polls from the old cursor and recomputes the
same buckets to the same values; a crash after it resumes from the new
one. There is no window in which a bucket can double-count.

Scale posture: per refresh, feed metadata is O(new appends); the
recompute scan is bounded by the delta's time span and pruned to the
affected months/files; the rollup rewrite touches only the affected
month partitions (every other month dir is a hardlink clone — inode-
pinned in tests); driver traffic is two collects, bucket-span- and
month-count-sized. ``read_realtime`` serves rollup ∪ recomputed-tail —
exact even against rows the maintainer has not seen yet.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.ingest.frames import arrow_frame
from sensapp_spark.storage.lake import (
    MONTH_COL,
    SensorLake,
    _utc_naive,
    _write_blob,
    commit_version,
    dir_lock,
    link_files,
    read_committed,
    resolve_table,
    retry_commit,
)
from sensapp_spark.storage.logstore import get_store

ROLLUP_META = "_rollup_meta.json"

__all__ = ["RollupStore", "SketchRollupStore", "ROLLUP_META"]


class RollupStore:
    """Continuous per-sensor bucket aggregates for one lake.

    ``grain_s`` is the bucket width in seconds (3600 = hourly).
    Numeric value tables only (FLOAT/INTEGER) — min/sum over strings
    or blobs is not a rollup. The rollup row is the standard mergeable
    quartet ``cnt/vsum/vmin/vmax`` (avg = vsum/cnt derives; anything
    non-mergeable like exact quantiles must come from raw), plus the
    EDGE quartet ``ecnt/esum/emin/emax`` over only the samples whose
    time is exactly the bucket's left boundary, plus (round 12) the
    FIRST/LAST quartet ``tfirst/vfirst/tlast/vlast`` — the bucket's
    extreme samples under struct(time, value) ordering, which is what
    admits ``rate()``/``increase()``/``delta``/``last_over_time`` (the
    Grafana counter panels) into the served set: a window's rise is
    last.v − first.v across its buckets, both mergeable by struct
    min/max — plus the SECOND MOMENT ``vsum2/esum2`` (Σv², whole
    bucket / boundary edge), which admits ``stddev_over_time`` /
    ``stdvar_over_time`` as var = Σv²/n − (Σv/n)² — the standard
    mergeable moment state (ClickHouse's AggregatingMergeTree varPop
    keeps the same form); the fold differs from a streaming Welford
    pass only in summation-order ULPs, the class the serving layer's
    sum fold already documents, degrading only for pathological
    μ²/σ² ≳ 1e12 corpora. Buckets are half-open ``[b, b+grain)`` but
    the engine's range windows are CLOSED ``[t-R, t]`` (Q5 semantics)
    — the edge stats are precisely the correction term that makes a
    closed window fold exactly from half-open buckets
    (query/rollup_serve.py), so the maintained rollup can serve
    ``/api/v1/query_range`` with zero semantic drift from the raw
    path.

    Round 13 (schema 3) adds the ORDERED per-bucket state:
    ``nrows/enrows`` (raw row counts — the null-sample-exact
    empty-window guard), ``nresets/nchanges`` (within-bucket
    adjacent-pair counters under the raw evaluator's (time, value)
    ordering; the cross-bucket boundary term folds from the
    first/last quartet at serve time), ``endv`` (distinct edge
    values — changes() inside a duplicate-instant boundary group),
    and ``tprev/vprev/evprev`` (the bucket's second-largest sample —
    irate()/idelta()'s last-two-samples fold).

    ``_rollup_meta.json`` records the row-schema version; tables
    written by older code read the newer columns as null, and
    :meth:`committed_schema` lets the serving layer gate per function
    (rollup_serve.SERVE_MIN_SCHEMA) — falling back to raw honestly
    instead of folding nulls — while :meth:`upgrade_tick` rebuilds
    old months in bounded batches until the table reaches the current
    version through maintenance alone."""

    SCHEMA = (
        "sensor_id string, bucket timestamp, cnt long, "
        "vsum double, vmin double, vmax double, "
        "ecnt long, esum double, emin double, emax double, "
        "tfirst timestamp, vfirst double, tlast timestamp, vlast double, "
        "vsum2 double, esum2 double, "
        "nrows long, enrows long, nresets long, nchanges long, "
        "endv long, tprev timestamp, vprev double, evprev double"
    )
    SCHEMA_VERSION = 3
    # The row identity and payload — everything the maintenance loop
    # (refresh/recompute/splice/commit) needs to know about the
    # aggregation shape; subclasses with a different shape (the
    # bucket-keyed sketch rollup) override these three + _aggregate
    # and inherit the whole exactly-once machinery.
    KEYS = ("sensor_id", "bucket")
    VALUE_COLS = (
        "cnt", "vsum", "vmin", "vmax", "ecnt", "esum", "emin", "emax",
        "tfirst", "vfirst", "tlast", "vlast", "vsum2", "esum2",
        "nrows", "enrows", "nresets", "nchanges", "endv",
        "tprev", "vprev", "evprev",
    )
    _TABLE_SUFFIX = ""
    _NUMERIC = (SensorType.FLOAT, SensorType.INTEGER, SensorType.NUMERIC)

    def __init__(
        self,
        lake: SensorLake,
        grain_s: int = 3600,
        retain_generations: int = 2,
    ) -> None:
        if grain_s <= 0:
            raise ValueError("grain_s must be positive")
        self.lake = lake
        self.spark = lake.spark
        self.grain_s = int(grain_s)
        self.retain_generations = retain_generations

    def _path(self, stype: SensorType) -> str:
        if stype not in self._NUMERIC:
            raise ValueError(
                f"rollup is defined for numeric value tables only, "
                f"not {stype.name}"
            )
        return os.path.join(
            self.lake.root,
            "_rollups",
            f"{stype.name.lower()}_{self._TABLE_SUFFIX}{self.grain_s}s",
        )

    def _bucket(self, col: Column) -> Column:
        """Floor ``col`` to the grain — µs-exact (unix_timestamp would
        truncate sub-second samples into the wrong bucket edge)."""
        g_us = self.grain_s * 1_000_000
        return F.timestamp_seconds(
            F.floor(F.unix_micros(col) / F.lit(g_us)).cast("long")
            * self.grain_s
        )

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        """The one aggregation shape — full rebuilds and bucket
        recomputes both use it, so they cannot drift. The edge quartet
        conditions on "sample time IS the bucket's left boundary"
        (µs-exact); F.count over the when() is 0 for edge-less buckets
        while esum/emin/emax stay null — both merge transparently
        (sum/min/max ignore nulls).

        Schema-3 columns (round 13) need ORDER within the bucket, so
        the plan gains window functions partitioned on the same
        (sensor, bucket) keys the groupBy uses — one exchange, sorted
        aggregation instead of hash. Round-13 optimization pass: every
        ordered stat derives from the SINGLE ordering (time desc,
        value desc), so the physical plan carries ONE Sort + ONE
        Window exec instead of the three sorts the first cut paid
        (guide §2.4 — the sorts were three full passes over the
        ingest delta at scale):

        * ``__pv`` — the previous sample's value under (time asc,
          value asc), the raw evaluator's resets/changes ordering
          (promql_ext:1914), obtained as ``lead`` under the desc
          ordering (desc with NULLS LAST is the exact reverse of asc
          with NULLS FIRST, and ties carry equal values, so the
          consecutive value pairs are identical); feeds
          ``nresets``/``nchanges``;
        * ``__rn`` (row_number under (time desc, value desc) — the raw
          irate/idelta top-2 ordering) marks the bucket's
          second-largest sample ``tprev/vprev``;
        * ``evprev`` — the second-largest boundary value. Edge samples
          all share the bucket's left-boundary instant — the MINIMUM
          time in the bucket — so under the desc ordering they are
          exactly the partition's LAST ``__e`` rows, ordered by value
          desc among themselves: the second-largest edge value sits at
          ``__rn == __n − __e + 2`` (``__n``/``__e`` are whole-frame
          counts over the same ordered window, same Window exec);
        * ``endv`` counts distinct non-null edge values (changes()
          inside a duplicate-instant boundary group = distinct − 1):
          equal edge values are ADJACENT under the desc ordering, so
          it is the run-starts sum — no count_distinct, whose Expand
          doubles the shuffle;
        * ``nrows``/``enrows`` are raw row counts (count(*)), the
          null-sample-exact empty-window guard — ``cnt`` stays the
          null-ignoring count the value folds read."""
        from pyspark.sql import Window

        g_us = self.grain_s * 1_000_000
        edge = (F.unix_micros(F.col("time")) % F.lit(g_us)) == 0
        val = F.col("value").cast("double")
        # First/last under struct(time, value) ordering — the SAME
        # deterministic duplicate-instant tie-break the raw evaluator
        # uses (promql_ext._per_series_agg), so a window folded from
        # these columns is hash-equal to a raw scan even on data with
        # repeated timestamps.
        sample = F.struct(F.col("time").alias("t"), val.alias("v"))
        first, last = F.min(sample), F.max(sample)
        # Materialize the bucket as a REAL column and emit every
        # window function in ONE select over it: window specs built
        # from a repeated bucket EXPRESSION get fresh attribute ids
        # per withColumn, which defeats both window collapsing and
        # exchange reuse — the first cut of this function planned SIX
        # Exchange+Sort pairs for what is one partitioning (verified
        # via explain('formatted'); plans/r13/rollup_aggregate_*.txt).
        pre = rows.withColumn("__b", self._bucket(F.col("time")))
        part = Window.partitionBy("sensor_id", "__b")
        w_desc = part.orderBy(F.col("time").desc(), val.desc())
        frame = w_desc.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        enriched = pre.select(
            "*",
            F.row_number().over(w_desc).alias("__rn"),
            F.lead(val).over(w_desc).alias("__pv"),
            F.lag(val).over(w_desc).alias("__pvd"),
            F.lag(edge).over(w_desc).alias("__ped"),
            F.count(F.lit(1)).over(frame).alias("__n"),
            F.count(F.when(edge, F.lit(1))).over(frame).alias("__e"),
        )
        pv = F.col("__pv")
        # A non-null edge value starts a NEW distinct run iff the
        # previous row (desc order) is not an edge carrying the same
        # value; edges are the partition tail and equal values are
        # adjacent, so summing run starts counts distinct values.
        new_run = (
            edge
            & val.isNotNull()
            & ~(
                F.coalesce(F.col("__ped"), F.lit(False))
                & F.col("__pvd").eqNullSafe(val)
            )
        )
        prev = F.max(F.when(F.col("__rn") == 2, sample))
        return (
            enriched.groupBy(
                "sensor_id", F.col("__b").alias("bucket")
            )
            .agg(
                # Non-null count: a null value is not a sample —
                # keeps cnt-derived folds (avg, count_over_time, the
                # Σv² variance) aligned with Spark's null-ignoring
                # aggregates on the raw path.
                F.count(val).alias("cnt"),
                F.sum(val).alias("vsum"),
                F.min(val).alias("vmin"),
                F.max(val).alias("vmax"),
                F.count(F.when(edge, val)).alias("ecnt"),
                F.sum(F.when(edge, val)).alias("esum"),
                F.min(F.when(edge, val)).alias("emin"),
                F.max(F.when(edge, val)).alias("emax"),
                first["t"].alias("tfirst"),
                first["v"].alias("vfirst"),
                last["t"].alias("tlast"),
                last["v"].alias("vlast"),
                F.sum(val * val).alias("vsum2"),
                F.sum(F.when(edge, val * val)).alias("esum2"),
                F.count(F.lit(1)).alias("nrows"),
                F.count(F.when(edge, F.lit(1))).alias("enrows"),
                # The null-propagating cast mirrors the raw lag fold:
                # a null value (either side of the pair) contributes
                # nothing, and the coalesce floors sample-less/all-
                # null buckets at 0.
                F.coalesce(
                    F.sum((pv.isNotNull() & (val < pv)).cast("long")),
                    F.lit(0),
                ).alias("nresets"),
                F.coalesce(
                    F.sum((pv.isNotNull() & (val != pv)).cast("long")),
                    F.lit(0),
                ).alias("nchanges"),
                F.coalesce(
                    F.sum(new_run.cast("long")), F.lit(0)
                ).alias("endv"),
                prev["t"].alias("tprev"),
                prev["v"].alias("vprev"),
                F.max(
                    F.when(
                        edge
                        & (F.col("__rn")
                           == F.col("__n") - F.col("__e") + 2),
                        val,
                    )
                ).alias("evprev"),
            )
            .withColumn(MONTH_COL, F.date_format("bucket", "yyyy-MM"))
        )

    # -- committed state ---------------------------------------------------

    def committed_cursor(self, stype: SensorType) -> dict | None:
        """The changes-feed cursor of the last committed refresh, or
        None before the first one. Reading it and reading the rollup
        rows resolve the same version dir — one log read, no skew."""
        data = resolve_table(self._path(stype))
        if data is None:
            return None
        meta = _read_meta(data)
        cur = None if meta is None else meta.get("cursor")
        return cur if isinstance(cur, dict) else None

    def committed_schema(self, stype: SensorType) -> int:
        """The committed rollup's row-schema version (0 when nothing
        is committed): 1 = base + edge quartets only (and count(*)
        cnt semantics), 2 = first/last quartet + Σv² moment +
        null-ignoring cnt, 3 = ordered per-bucket state (row counts,
        reset/change counters, second-to-last sample). The serving
        layer gates each function on its minimum version
        (rollup_serve.SERVE_MIN_SCHEMA) — a pre-upgrade table reads
        the newer columns as null and a fold over nulls would be
        silently wrong, so those functions fall back to raw until
        :meth:`upgrade_tick` (or a full rebuild) brings the table
        forward."""
        data = resolve_table(self._path(stype))
        return 0 if data is None else _schema_of(data)

    def _cursor_current(self, stype: SensorType, cursor: dict) -> bool:
        """Metadata-only staleness check: True iff the committed
        cursor PROVABLY covers the lake's current committed state —
        one log read + one listdir, zero Spark jobs. False on any
        doubt (reset cursor, legacy/missing file log, seq or
        generation mismatch, ANY append-intent marker — live or
        quiescent — whose rows may not be in the log yet); the caller
        then takes the full ``changes()`` path, which proves or
        repairs what this check only inspects. This is what makes the
        steady-state serve/noop paths cost metadata instead of the
        feed-poll floor (~1.4 s of Spark jobs at 10×)."""
        from sensapp_spark.storage.lake import (
            APPEND_MARKER_PREFIX,
            _filelog_entries,
        )

        if not cursor or cursor.get("reset") or "gen" not in cursor:
            return False
        seq, data = read_committed(self.lake._values_path(stype))
        if data is None or cursor.get("seq") != seq:
            return False
        try:
            entries = os.listdir(data)
        except OSError:
            return False
        if any(d.startswith(APPEND_MARKER_PREFIX) for d in entries):
            return False
        gens = _filelog_entries(data)
        if not gens or gens[0] != 0:
            return False
        return cursor.get("gen") == gens[-1]

    def read(
        self,
        stype: SensorType,
        start: dt.datetime | None = None,
        end: dt.datetime | None = None,
    ) -> DataFrame:
        """The committed rollup (complete up to ``committed_cursor``).
        Month partition pruning applies through the hive layout."""
        start = _utc_naive(start)
        end = _utc_naive(end)
        data = resolve_table(self._path(stype))
        if data is None:
            return arrow_frame(self.spark, [], self.SCHEMA)
        schema = T.StructType.fromDDL(self.SCHEMA).add(MONTH_COL, "string")
        df = self.spark.read.schema(schema).parquet(data)
        if start is not None:
            df = df.filter(F.col(MONTH_COL) >= start.strftime("%Y-%m"))
            df = df.filter(F.col("bucket") >= F.lit(start))
        if end is not None:
            df = df.filter(F.col(MONTH_COL) <= end.strftime("%Y-%m"))
            df = df.filter(F.col("bucket") <= F.lit(end))
        return df.drop(MONTH_COL)

    # -- maintenance ---------------------------------------------------------

    def refresh(self, stype: SensorType, max_retries: int = 5) -> dict:
        """One maintenance tick: poll the feed, recompute the affected
        buckets, commit rollup + cursor atomically. Returns a report
        {"mode": "noop"|"incremental"|"rebuild", "affected_months": n,
        "seq": committed seq or None}."""
        path = self._path(stype)
        os.makedirs(path, exist_ok=True)

        def attempt(seq: int, data: str | None) -> dict:
            cursor = self.committed_cursor(stype)
            if cursor is not None and self._cursor_current(stype, cursor):
                # Caught up: the idle tick costs one log read + one
                # listdir, not a feed-poll Spark job.
                return {"mode": "noop", "affected_months": 0,
                        "seq": seq or None}
            # retry_commit wraps the WHOLE tick body, not just _commit:
            # the delta-bounds and affected-months collects materialize
            # the same lazily-planned scan, and a cross-host rewrite
            # pruning that version mid-plan must re-poll from a fresh
            # read, not surface as a raw Spark job failure.
            delta, next_cur = self.lake.changes(stype, cursor, cdc=True)
            rebuild = cursor is None or next_cur.get("reset")
            if rebuild:
                # The reset frame IS the current snapshot — one scan.
                new_rows = self._aggregate(
                    delta.filter(F.col("_change_type") == "insert")
                    .drop("_change_type")
                )
                affected_months = None  # everything
            else:
                # ONE probe job for bounds AND affected months
                # (round-13 optimization: the two collects each re-ran
                # the changes-feed scan; month cardinality is tiny, so
                # collect_set rides the same aggregation — guide §1.2,
                # "don't compute things twice").
                bounds = delta.agg(
                    F.min("time").alias("lo"),
                    F.max("time").alias("hi"),
                    F.collect_set(
                        F.date_format(
                            self._bucket(F.col("time")), "yyyy-MM",
                        )
                    ).alias("months"),
                ).collect()[0]
                if bounds["lo"] is None:
                    if next_cur == cursor:
                        return {"mode": "noop", "affected_months": 0,
                                "seq": seq or None}
                    # Cursor moved with an empty delta (e.g. a
                    # preserved rewrite crossing): commit the new
                    # cursor over unchanged rows so the next poll does
                    # not re-prove the crossing.
                    new_rows = None
                    affected_months = []
                else:
                    new_rows, affected_months = self._recompute(
                        stype, delta, bounds
                    )
            committed = self._commit(
                path, seq, data, new_rows, affected_months, next_cur,
            )
            return {
                "mode": "rebuild" if rebuild else (
                    "incremental" if affected_months else "noop"
                ),
                "affected_months": (
                    -1 if affected_months is None
                    else len(affected_months)
                ),
                "seq": committed,
            }

        with dir_lock(path):
            return retry_commit(path, attempt, max_retries, "rollup refresh")

    def upgrade_tick(
        self,
        stype: SensorType,
        max_months: int = 6,
        max_retries: int = 5,
    ) -> dict:
        """One bounded step of a maintenance-driven schema upgrade:
        rebuild up to ``max_months`` month partitions of a
        pre-current-schema rollup from the BASE table (through the
        one aggregation shape, so the rebuilt rows carry every
        current column), splice them in with the ordinary
        hardlink-clone commit, and track the remaining worklist in
        ``_rollup_meta.json`` (``pending_upgrade_months``). The
        committed schema version flips to ``SCHEMA_VERSION`` only
        when the worklist empties — the version stays a statement
        about EVERY row throughout.

        Exactly-once/idempotent by the same argument as refresh:
        month rebuilds recompute from the base (a crash or lost CAS
        race re-rebuilds the same months to the same values), the
        feed cursor rides the commit UNCHANGED, and incremental
        refreshes interleave freely — a splice of a not-yet-upgraded
        month keeps it on the worklist (its kept-old rows are still
        old-schema); months created fresh by post-upgrade code were
        never on it. Months dropped by retention fall off the
        worklist at the next tick.

        Returns {"mode": "noop"|"upgrade", "upgraded_months": n,
        "remaining": n, "schema": committed-after}. The pre-r12
        deployment story this closes: without it, a v1 table NEVER
        gains the served rate()/stddev/resets families — incremental
        splices honestly inherit v1 forever (round-12 verdict,
        task 1)."""
        path = self._path(stype)
        if resolve_table(path) is None:
            return {
                "mode": "noop", "upgraded_months": 0, "remaining": 0,
                "schema": 0,
            }

        def attempt(seq: int, data: str | None) -> dict:
            if data is None:
                return {
                    "mode": "noop", "upgraded_months": 0,
                    "remaining": 0, "schema": 0,
                }
            meta = _read_meta(data) or {}
            schema = _schema_of(data)
            pending = meta.get("pending_upgrade_months")
            if schema >= self.SCHEMA_VERSION and not pending:
                return {
                    "mode": "noop", "upgraded_months": 0,
                    "remaining": 0, "schema": schema,
                }
            on_disk = sorted(
                d[len(MONTH_COL) + 1:]
                for d in os.listdir(data)
                if d.startswith(f"{MONTH_COL}=")
                and os.path.isdir(os.path.join(data, d))
            )
            if pending is None:
                # First tick of this upgrade: every committed month MAY
                # hold old-schema rows (months written since the code
                # upgrade get redundantly — and idempotently — rebuilt;
                # bounded, and only once).
                pending = on_disk
            else:
                # Retention may have expired worklist months.
                keep = set(on_disk)
                pending = [m for m in pending if m in keep]
            batch = pending[:max_months]
            rest = pending[max_months:]
            done_schema = self.SCHEMA_VERSION if not rest else schema
            if batch:
                rows = self._rebuild_months(stype, batch)
                months = [f"{MONTH_COL}={m}" for m in batch]
            else:
                # Empty table (or worklist drained by retention): flip
                # the version, cursor-only.
                rows, months = None, []
            committed = self._commit(
                path, seq, data, rows, months, meta.get("cursor"),
                schema_override=done_schema,
                pending_override=rest or None,
            )
            return {
                "mode": "upgrade" if batch else "noop",
                "upgraded_months": len(batch),
                "remaining": len(rest),
                "schema": done_schema,
                "seq": committed,
            }

        with dir_lock(path):
            return retry_commit(path, attempt, max_retries, "rollup upgrade")

    def _rebuild_months(self, stype, months) -> DataFrame:
        """Re-aggregate ENTIRE month partitions from the base table:
        scan [first month start, last month end + grain] (buckets of
        a month can hold samples up to one grain past its end; the
        month-pruned scan makes the span the worklist batch's, not
        the table's), aggregate through the one shape, keep only the
        requested months' buckets — neighbours' partial buckets drop
        out with the filter, never reaching the splice."""
        lo_y, lo_m = map(int, min(months).split("-"))
        hi_y, hi_m = map(int, max(months).split("-"))
        lo = dt.datetime(lo_y, lo_m, 1)
        hi = dt.datetime(
            hi_y + hi_m // 12, hi_m % 12 + 1, 1
        ) + dt.timedelta(seconds=self.grain_s)
        return self._aggregate(
            self.lake.values(stype, start=lo, end=hi)
        ).filter(F.col(MONTH_COL).isin(list(months)))

    def _keys(self, delta: DataFrame) -> DataFrame:
        """The delta's distinct affected key tuples (``KEYS`` with the
        bucket column derived from the sample time)."""
        return delta.select(
            *[k for k in self.KEYS if k != "bucket"],
            self._bucket(F.col("time")).alias("bucket"),
        ).distinct()

    def _recompute_buckets(self, stype, keys, bounds) -> DataFrame:
        """Re-aggregate exactly the affected buckets from the BASE
        table: time-bounded scan (month/zone-map pruned), key
        semi-join, then the one aggregation shape. Authoritative for
        those buckets — whatever changed, the base is the truth."""
        # Bucket-floor the scan bounds with epoch arithmetic — naive
        # ``.timestamp()`` would apply the host timezone and shift the
        # window off the UTC bucket edges.
        epoch = dt.datetime(1970, 1, 1)
        lo_s = int((bounds["lo"] - epoch).total_seconds())
        lo = epoch + dt.timedelta(
            seconds=(lo_s // self.grain_s) * self.grain_s
        )
        hi = bounds["hi"] + dt.timedelta(seconds=self.grain_s)
        base = self.lake.values(stype, start=lo, end=hi)
        # Semi-join the RAW rows before aggregating: the time window
        # may hold many untouched sensors' rows — aggregate only what
        # the keys keep (partial aggs then shuffle bucket-counts only).
        hit = base.withColumn(
            "bucket", self._bucket(F.col("time"))
        ).join(keys, list(self.KEYS), "semi").drop("bucket")
        return self._aggregate(hit)

    def _recompute(self, stype, delta, bounds):
        """The refresh splice: recomputed buckets REPLACE their rows
        inside the affected months' full content (the commit rewrites
        whole month partitions). Returns (rows for the affected
        months, [month partition names]).

        ``bounds`` MUST be the refresh probe's Row carrying ``lo``,
        ``hi`` AND ``months`` (the ``collect_set(yyyy-MM)`` that rides
        the same probe aggregation — see ``refresh``). The sibling
        ``_recompute_buckets`` path accepts a plain lo/hi-only Row;
        this one does not — callers with only time bounds must collect
        the affected months themselves (round-13 ADVICE: the implicit
        field contract is documented here rather than smuggled)."""
        keys = self._keys(delta)
        recomputed = self._recompute_buckets(stype, keys, bounds)
        # Affected months come from the DELTA (so a bucket whose rows
        # all vanished still rewrites its month) — collected by the
        # caller's single probe job alongside the bounds (month
        # cardinality, tiny).
        months = sorted(bounds["months"])
        month_dirs = [f"{MONTH_COL}={m}" for m in months]
        old = self.read(stype).withColumn(
            MONTH_COL, F.date_format("bucket", "yyyy-MM")
        )
        kept_old = old.filter(
            F.col(MONTH_COL).isin(months)
        ).join(keys, list(self.KEYS), "anti")
        return kept_old.unionByName(recomputed), month_dirs

    def _commit(
        self, path, seq, data, new_rows, affected_months, next_cur,
        schema_override: int | None = None,
        pending_override=False,
    ) -> int:
        """Commit a refresh: write the affected months' rows into a
        fresh version dir, hardlink every unaffected month dir from the
        committed version, land the cursor meta INSIDE the dir, claim
        ``seq+1`` conditionally (the CAS discipline every lake writer
        follows). ``affected_months=None`` = full rebuild (nothing is
        cloned); ``new_rows=None`` = cursor-only commit (everything is
        cloned).

        ``schema_override``/``pending_override`` are the upgrade
        tick's levers: the recorded row-schema version and the
        ``pending_upgrade_months`` list. ``pending_override=False``
        (the refresh default) CARRIES the predecessor's pending list
        on incremental commits — a splice must not make an
        in-progress upgrade forget its worklist — and drops it on
        full rebuilds (everything is current); an explicit list/None
        replaces it."""

        def fill(vdir: str) -> None:
            if new_rows is not None:
                # One shuffle keyed by month before the partitioned
                # write: each month lands as ~one file instead of one
                # per shuffle partition — the rollup is bucket-sized,
                # so the shuffle is negligible and the read-side file
                # count stays flat across refresh ticks.
                new_rows.select(
                    *self.KEYS, *self.VALUE_COLS, MONTH_COL,
                ).repartition(F.col(MONTH_COL)).write.partitionBy(
                    MONTH_COL
                ).mode("overwrite").parquet(vdir)
            else:
                os.makedirs(vdir)
            if data is not None and affected_months is not None:
                skip = set(affected_months)
                link_files(data, vdir, [
                    os.path.join(d, f)
                    for d in os.listdir(data)
                    if d.startswith(f"{MONTH_COL}=") and d not in skip
                    and os.path.isdir(os.path.join(data, d))
                    # Month dirs hold part files only.
                    for f in os.listdir(os.path.join(data, d))
                ])
            # Schema version is a statement about EVERY row: a full
            # rebuild (affected_months None) or a fresh table writes
            # the current version; an incremental splice inherits the
            # predecessor's (its kept-old month rows were written by
            # that code). An old table therefore stays honestly at
            # its old version until upgrade_tick (or a rebuild)
            # brings every month forward.
            if schema_override is not None:
                schema_v = schema_override
            elif data is None or affected_months is None:
                schema_v = self.SCHEMA_VERSION
            else:
                schema_v = min(_schema_of(data), self.SCHEMA_VERSION)
            meta: dict = {
                "cursor": next_cur, "grain_s": self.grain_s,
                "schema": schema_v,
            }
            if pending_override is False:
                # Carry an in-progress upgrade's worklist across
                # ordinary incremental refreshes; a full rebuild
                # wrote every row fresh and clears it.
                if data is not None and affected_months is not None:
                    prior = _read_meta(data)
                    pending = (
                        None if prior is None
                        else prior.get("pending_upgrade_months")
                    )
                    if pending:
                        meta["pending_upgrade_months"] = pending
            elif pending_override:
                meta["pending_upgrade_months"] = list(pending_override)
            _write_blob(
                os.path.join(vdir, ROLLUP_META), json.dumps(meta).encode()
            )

        return commit_version(path, fill, seq, self.retain_generations)

    def read_folded(
        self,
        stype: SensorType,
        fold_grain_s: int,
        start: dt.datetime | None = None,
        end: dt.datetime | None = None,
        realtime: bool = False,
    ) -> DataFrame:
        """Coarser-grain reads WITHOUT a second maintained table: the
        quartet is mergeable (cnt/vsum sum, vmin min, vmax max), so a
        1h rollup folds to 1d/1w exactly at read time — IO is the fine
        rollup's buckets, never raw rows. ``fold_grain_s`` must be a
        multiple of the store grain (a 90-minute fold of hourly buckets
        would split buckets, which a fold cannot do). Window clipping
        is on the FOLDED bucket, consistent with :meth:`read`."""
        if fold_grain_s % self.grain_s != 0 or fold_grain_s <= 0:
            raise ValueError(
                f"fold grain {fold_grain_s}s must be a positive "
                f"multiple of the store grain {self.grain_s}s"
            )
        start = _utc_naive(start)
        end = _utc_naive(end)
        # Pad only the END: a kept folded bucket starts >= start, so
        # its fine buckets do too, but its tail fine buckets run up to
        # one folded grain past `end` — scan them, then clip folded.
        pad_end = (
            None if end is None
            else end + dt.timedelta(seconds=fold_grain_s)
        )
        fine = (
            self.read_realtime(stype, start, pad_end)
            if realtime
            else self.read(stype, start, pad_end)
        )
        g_us = fold_grain_s * 1_000_000
        folded = F.timestamp_seconds(
            F.floor(F.unix_micros(F.col("bucket")) / F.lit(g_us))
            .cast("long") * fold_grain_s
        )
        # The folded bucket's edge quartet is the edge quartet of the
        # ONE fine bucket sitting at its left boundary — samples at
        # exactly the folded edge are by definition at that fine
        # bucket's edge too. The first/last quartet folds by the same
        # struct(time, value) ordering it was built under (null-safe:
        # min/max skip a pre-upgrade row's null structs, and an
        # all-null group yields null — committed_schema gates serving).
        at_edge = F.col("bucket") == folded
        # when() → null for a pre-upgrade row (struct(null, null) is
        # NOT null itself and would otherwise participate in min/max).
        first = F.min(F.when(
            F.col("tfirst").isNotNull(),
            F.struct(F.col("tfirst").alias("t"),
                     F.col("vfirst").alias("v")),
        ))
        last = F.max(F.when(
            F.col("tlast").isNotNull(),
            F.struct(F.col("tlast").alias("t"),
                     F.col("vlast").alias("v")),
        ))
        # Schema-3 folds need ORDER across the folded group's fine
        # buckets (a commutative merge cannot see bucket adjacency),
        # so they fold from ONE sorted collect_list of per-bucket
        # structs — bounded by the fold ratio (e.g. 24 entries for
        # 1h→1d), not by samples. Entries condition on tfirst so
        # pre-upgrade (schema < 2) rows drop out of the sequence; on a
        # mixed pre-/post-upgrade table the v3 folds are therefore
        # PARTIAL, the same documented degradation as the first/last
        # fold — committed_schema gates every serving decision.
        seq_entry = F.when(
            F.col("tfirst").isNotNull(),
            F.struct(
                F.struct(F.col("tfirst").alias("t"),
                         F.col("vfirst").alias("v")).alias("first"),
                F.struct(F.col("tlast").alias("t"),
                         F.col("vlast").alias("v")).alias("last"),
                F.coalesce(F.col("nresets"), F.lit(0)).alias("nr"),
                F.coalesce(F.col("nchanges"), F.lit(0)).alias("nc"),
                F.when(
                    F.col("tprev").isNotNull(),
                    F.struct(F.col("tprev").alias("t"),
                             F.col("vprev").alias("v")),
                ).alias("prev"),
            ),
        )
        out = (
            fine.groupBy("sensor_id", folded.alias("bucket"))
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum("vsum").alias("vsum"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
                F.coalesce(
                    F.sum(F.when(at_edge, F.col("ecnt"))), F.lit(0)
                ).alias("ecnt"),
                F.sum(F.when(at_edge, F.col("esum"))).alias("esum"),
                F.min(F.when(at_edge, F.col("emin"))).alias("emin"),
                F.max(F.when(at_edge, F.col("emax"))).alias("emax"),
                first["t"].alias("tfirst"),
                first["v"].alias("vfirst"),
                last["t"].alias("tlast"),
                last["v"].alias("vlast"),
                F.sum("vsum2").alias("vsum2"),
                F.sum(F.when(at_edge, F.col("esum2"))).alias("esum2"),
                F.sum("nrows").alias("nrows"),
                F.coalesce(
                    F.sum(F.when(at_edge, F.col("enrows"))), F.lit(0)
                ).alias("enrows"),
                F.coalesce(
                    F.sum(F.when(at_edge, F.col("endv"))), F.lit(0)
                ).alias("endv"),
                F.max(F.when(at_edge, F.col("evprev"))).alias("evprev"),
                F.sort_array(F.collect_list(seq_entry)).alias("__seq"),
            )
        )
        # Fold the ordered stats from the sorted sequence: counters
        # are Σ within-bucket + a boundary term per adjacent pair
        # (the serving layer's window fold uses the same identity —
        # query/rollup_serve.py _func_value); the folded second-to-
        # last sample is the latest bucket's prev, or the
        # second-latest bucket's last when that bucket held only one
        # sample.
        seq = F.col("__seq")
        n = F.size(seq)
        heads = F.slice(seq, 1, n - 1)
        tails = F.slice(seq, 2, n - 1)

        def _bnd(hit):
            # coalesce: a null-valued boundary comparison (null
            # samples, documented extension) contributes 0, matching
            # the raw lag fold's null-skipping sum.
            return F.aggregate(
                F.zip_with(
                    heads, tails,
                    lambda a, b: F.coalesce(hit(a, b), F.lit(0)),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )

        rev = F.reverse(seq)
        # try_element_at: NULL past the end (ANSI element_at throws).
        e1 = F.try_element_at(rev, F.lit(1))
        e2 = F.try_element_at(rev, F.lit(2))
        fprev = F.when(n >= 1, F.coalesce(e1["prev"], e2["last"]))
        out = out.select(
            "sensor_id", "bucket",
            "cnt", "vsum", "vmin", "vmax",
            "ecnt", "esum", "emin", "emax",
            "tfirst", "vfirst", "tlast", "vlast", "vsum2", "esum2",
            "nrows", "enrows", "endv", "evprev",
            F.when(
                n >= 1,
                _bnd(lambda a, b: (b["first"]["v"] < a["last"]["v"])
                     .cast("long"))
                + F.aggregate(
                    seq, F.lit(0).cast("long"), lambda a, x: a + x["nr"]
                ),
            ).alias("nresets"),
            F.when(
                n >= 1,
                _bnd(lambda a, b: (b["first"]["v"] != a["last"]["v"])
                     .cast("long"))
                + F.aggregate(
                    seq, F.lit(0).cast("long"), lambda a, x: a + x["nc"]
                ),
            ).alias("nchanges"),
            fprev["t"].alias("tprev"),
            fprev["v"].alias("vprev"),
        ).select(
            "sensor_id", "bucket", *self.VALUE_COLS
        )
        if start is not None:
            out = out.filter(F.col("bucket") >= F.lit(start))
        if end is not None:
            out = out.filter(F.col("bucket") <= F.lit(end))
        return out

    def _direct_buckets(self, stype, start, end) -> DataFrame:
        """Direct raw aggregation with the SAME window semantics as
        :meth:`read`: whole buckets whose start lies in [start, end] —
        the raw scan is padded one grain past ``end`` and the clip
        happens on the BUCKET, or a window-edge bucket would come back
        partial from this path and whole from the committed one."""
        pad_end = (
            end + dt.timedelta(seconds=self.grain_s)
            if end is not None else None
        )
        out = self._aggregate(
            self.lake.values(stype, start=None, end=pad_end)
            if start is None
            else self.lake.values(stype, start=start, end=pad_end)
        ).drop(MONTH_COL)
        if start is not None:
            out = out.filter(F.col("bucket") >= F.lit(start))
        if end is not None:
            out = out.filter(F.col("bucket") <= F.lit(end))
        return out

    # -- real-time reads -----------------------------------------------------

    def read_realtime(
        self,
        stype: SensorType,
        start: dt.datetime | None = None,
        end: dt.datetime | None = None,
    ) -> DataFrame:
        """Rollup ∪ live tail — exact against rows the maintainer has
        not refreshed yet (Timescale's real-time aggregation). The tail
        is the feed since the COMMITTED cursor (peeked, never
        acknowledged — reads must not advance maintenance state); its
        affected buckets are recomputed from raw via the same rule the
        refresh uses, REPLACING the rollup's stale rows, so a raced
        append can never double-count. A tail the feed cannot attribute
        (reset) falls back to direct raw aggregation — always correct,
        priced as such."""
        start = _utc_naive(start)
        end = _utc_naive(end)

        def attempt(_seq: int, _data: str | None) -> DataFrame:
            cursor = self.committed_cursor(stype)
            if cursor is None:
                return self._direct_buckets(stype, start, end)
            if self._cursor_current(stype, cursor):
                # Steady state (maintenance caught up): serve the
                # committed rollup with zero feed-poll Spark jobs.
                return self.read(stype, start, end)
            tail, tail_cur = self.lake.changes(stype, cursor, cdc=True)
            rollup = self.read(stype, start, end)
            if tail_cur.get("reset"):
                return self._direct_buckets(stype, start, end)
            # The tail-bounds collect materializes the feed's lazy
            # plan; a cross-host rewrite pruning that version mid-plan
            # is a stale scan, and retry_commit re-polls from a fresh
            # cursor read (bounded, like refresh).
            bounds = tail.agg(
                F.min("time").alias("lo"), F.max("time").alias("hi")
            ).collect()[0]
            if bounds["lo"] is None:
                return rollup
            # Replace ONLY the tail's buckets: recomputed rows in, the
            # rollup's stale versions of those same keys out. (The
            # refresh splice `_recompute` would be wrong here — its
            # kept-old month content is already present in `rollup`.)
            keys = self._keys(tail)
            fresh = self._recompute_buckets(stype, keys, bounds)
            out = rollup.join(
                keys, list(self.KEYS), "anti"
            ).unionByName(fresh.drop(MONTH_COL))
            if start is not None:
                out = out.filter(F.col("bucket") >= F.lit(start))
            if end is not None:
                out = out.filter(F.col("bucket") <= F.lit(end))
            return out

        return retry_commit(self._path(stype), attempt, 3, "realtime read")


class SketchRollupStore(RollupStore):
    """Continuous MERGEABLE-SKETCH aggregates, bucket-keyed: per time
    bucket, a KMV distinct-series sketch (the k smallest distinct
    md5-prefix hashes of sensor_id) and a count-min heavy-hitter
    counter table (d×w flattened longs) over sensor_id row counts.

    This is the continuous form of the ``metrics_summary`` dashboard
    shape — ``COUNT(DISTINCT sensor_id)`` per bucket (the reference
    maintains a metrics_summary VIEW that re-scans:
    src/storage/sqlite/migrations/20250819144000_add_metrics_summary_view.sql:3-16)
    — answered from a maintained table instead of a raw re-scan. Both
    sketches are mergeable, so :meth:`read_folded` folds hourly rows
    to daily/weekly at read time (KMV: union-dedup-keep-k; CMS:
    element-wise sum — lossless), the same property the zone-map
    sidecar folds rely on (storage/zonemap.py).

    The hashes are the engine-portable md5 prefixes of
    operators/sketches.py, so a DuckDB oracle replays the estimator
    bit-identically — the registry's ``kmv_cagg``/``cms_cagg`` arms
    pin maintained == recomputed-from-raw, hash-equal.

    Maintenance is inherited UNCHANGED from RollupStore — one key
    column (``bucket``) instead of two, ``_aggregate`` swapped: the
    affected-bucket recompute rule is sketch-correct by construction
    because sketches are recomputed from the base rows, never
    incrementally mutated (a KMV cannot un-see a deleted series; the
    recompute does not need to)."""

    SCHEMA = "bucket timestamp, kmv array<long>, cms array<long>"
    SCHEMA_VERSION = 1  # sketch rows are unchanged since round 11
    KEYS = ("bucket",)
    VALUE_COLS = ("kmv", "cms")
    _TABLE_SUFFIX = "sketch_"

    # Smaller CMS than the ad-hoc operator default (8192): the table
    # holds one counter array PER BUCKET, and per-bucket key
    # cardinality is series-count, not row-count. d·w longs = 8 KB per
    # bucket at these defaults; widen w for very high-cardinality
    # fleets (the stated lever).
    KMV_K = 256
    CMS_W = 512
    CMS_D = 2

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from sensapp_spark.operators.sketches import (
            CMS_SALTS,
            portable_hash,
        )

        b = self._bucket(F.col("time")).alias("bucket")
        # KMV: distinct (bucket, hash) first — the shuffle is bounded
        # by per-bucket series cardinality, map-side pre-deduped —
        # then a rank<=k window (plans as WindowGroupLimit: map tasks
        # keep local top-k) and ONE ≤k-element collect per bucket.
        hashes = rows.select(
            b, portable_hash(F.col("sensor_id")).alias("__h")
        ).distinct()
        w = Window.partitionBy("bucket").orderBy("__h")
        kmv = (
            hashes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.KMV_K)
            .groupBy("bucket")
            .agg(F.array_sort(F.collect_list("__h")).alias("kmv"))
        )
        # CMS: d map-side-combined groupBys keyed (bucket, flat pos);
        # the sparse (≤ d·w rows per bucket) counters densify into one
        # flat array via a map lookup over 0..d·w-1.
        sparse = None
        for i, salt in enumerate(CMS_SALTS[: self.CMS_D]):
            part = rows.groupBy(
                b,
                (
                    F.lit(i * self.CMS_W)
                    + portable_hash(F.col("sensor_id"), salt)
                    % self.CMS_W
                ).cast("int").alias("__pos"),
            ).agg(F.count("*").alias("__cnt"))
            sparse = part if sparse is None else sparse.unionByName(part)
        dense = (
            sparse.groupBy("bucket")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("__pos", "__cnt"))
                ).alias("__m")
            )
            .select(
                "bucket",
                F.transform(
                    F.sequence(
                        F.lit(0), F.lit(self.CMS_D * self.CMS_W - 1)
                    ),
                    lambda i: F.coalesce(
                        F.element_at("__m", i), F.lit(0).cast("long")
                    ),
                ).alias("cms"),
            )
        )
        return kmv.join(dense, "bucket").withColumn(
            MONTH_COL, F.date_format("bucket", "yyyy-MM")
        )

    def read_folded(
        self,
        stype: SensorType,
        fold_grain_s: int,
        start: dt.datetime | None = None,
        end: dt.datetime | None = None,
        realtime: bool = False,
    ) -> DataFrame:
        """Coarser-grain sketch reads without a second table: KMV
        merges as union→dedup→keep-k (the merged sketch IS the sketch
        of the union — k smallest of the combined distinct hashes);
        CMS merges as element-wise counter addition (lossless)."""
        if fold_grain_s % self.grain_s != 0 or fold_grain_s <= 0:
            raise ValueError(
                f"fold grain {fold_grain_s}s must be a positive "
                f"multiple of the store grain {self.grain_s}s"
            )
        start = _utc_naive(start)
        end = _utc_naive(end)
        pad_end = (
            None if end is None
            else end + dt.timedelta(seconds=fold_grain_s)
        )
        fine = (
            self.read_realtime(stype, start, pad_end)
            if realtime
            else self.read(stype, start, pad_end)
        )
        g_us = fold_grain_s * 1_000_000
        folded = F.timestamp_seconds(
            F.floor(F.unix_micros(F.col("bucket")) / F.lit(g_us))
            .cast("long") * fold_grain_s
        )
        zeros = F.array_repeat(
            F.lit(0).cast("long"), self.CMS_D * self.CMS_W
        )
        out = (
            fine.groupBy(folded.alias("bucket"))
            .agg(
                F.slice(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list("kmv")))
                    ),
                    1,
                    self.KMV_K,
                ).alias("kmv"),
                F.aggregate(
                    F.collect_list("cms"),
                    zeros,
                    lambda acc, x: F.zip_with(
                        acc, x, lambda a, c: a + c
                    ),
                ).alias("cms"),
            )
        )
        if start is not None:
            out = out.filter(F.col("bucket") >= F.lit(start))
        if end is not None:
            out = out.filter(F.col("bucket") <= F.lit(end))
        return out

    # -- estimates -----------------------------------------------------------

    def distinct_estimates(self, buckets: DataFrame) -> DataFrame:
        """(bucket, distinct_series double) from a sketch frame —
        exact below k (the KMV array IS the distinct hash set), the
        (k−1)·H/h_k estimator at or above."""
        from sensapp_spark.operators.sketches import HASH_MAX

        n = F.size("kmv")
        est = F.when(
            n < self.KMV_K, n.cast("double")
        ).otherwise(
            F.lit(float(self.KMV_K - 1))
            * F.lit(HASH_MAX)
            / F.element_at("kmv", self.KMV_K)
        )
        return buckets.select(
            "bucket", F.round(est, 6).alias("distinct_series")
        )

    def heavy_hitters(
        self, buckets: DataFrame, probes: DataFrame
    ) -> DataFrame:
        """Per-bucket row-count estimates for every probe sensor_id:
        min over the d counter rows (count-min guarantee: ≥ true,
        overshoot ≈ bucket_rows/w). Two probe shapes: a sensor_id-only
        frame probes every id against EVERY bucket (dimension-sized —
        broadcast cross join); a (bucket, sensor_id) frame probes
        exactly those pairs (an equality join on bucket — the shape
        for "who was heavy in the hours they were active")."""
        from sensapp_spark.operators.sketches import (
            CMS_SALTS,
            portable_hash,
        )

        pos = [
            (
                F.lit(i * self.CMS_W)
                + portable_hash(F.col("sensor_id"), salt) % self.CMS_W
            ).cast("int")
            for i, salt in enumerate(CMS_SALTS[: self.CMS_D])
        ]
        pair_mode = "bucket" in probes.columns
        probed = probes.select(
            *(["bucket"] if pair_mode else []),
            "sensor_id",
            F.array(*pos).alias("__pos"),
        )
        cnt = F.array_min(
            F.transform(
                F.col("__pos"),
                # element_at is 1-indexed.
                lambda p: F.element_at(F.col("cms"), p + 1),
            )
        )
        joined = (
            buckets.join(probed, "bucket")
            if pair_mode
            else buckets.crossJoin(F.broadcast(probed))
        )
        return joined.select(
            "bucket",
            "sensor_id",
            cnt.cast("double").alias("rows_estimate"),
        )


def _read_meta(version_dir: str) -> dict | None:
    """The committed version dir's ``_rollup_meta.json`` as a dict
    (None when absent/unparseable — pre-versioning tables)."""
    raw = get_store().read(os.path.join(version_dir, ROLLUP_META))
    if raw is None:
        return None
    try:
        meta = json.loads(raw)
    except ValueError:
        return None
    return meta if isinstance(meta, dict) else None


def _schema_of(version_dir: str) -> int:
    """Row-schema version recorded in a version dir's meta (1 for
    pre-versioning tables — they predate the ``schema`` key)."""
    meta = _read_meta(version_dir)
    v = 1 if meta is None else meta.get("schema", 1)
    return v if isinstance(v, int) else 1
