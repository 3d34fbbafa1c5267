"""Driver-contract query registry: Spark implementation + DuckDB oracle per
operator from SURVEY.md §2.

Each ``QUERIES[name]`` is ``(spark, sf_dir) -> DataFrame``; ``ORACLES[name]``
is the equivalent ANSI SQL DuckDB runs over the same parquet (views
``region nation customer supplier part orders lineitem events documents
embeddings``). Column names are aliased identically on both sides, floats
that undergo arithmetic are rounded identically on both sides, and
timestamps are µs on both sides (see plans/testdata.py).
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sensapp_spark.operators import (
    LabelMatcher,
    MatcherType,
    metrics_summary,
    per_sensor_limit,
    query_samples,
    series_list,
)
from sensapp_spark.operators.selection import dedup_values, fetch_series, time_range
from sensapp_spark.plans import testdata as td

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register_pipeline() -> None:
    """Merge the training-data pipeline entries (imported lazily at the
    bottom of this module to avoid a circular import)."""
    from sensapp_spark.plans.pipeline_queries import (
        PIPELINE_ORACLES,
        PIPELINE_QUERIES,
    )

    QUERIES.update(PIPELINE_QUERIES)
    ORACLES.update(PIPELINE_ORACLES)

T_START = dt.datetime(2024, 1, 5)
T_END = dt.datetime(2024, 1, 20)

# Shared oracle CTE prologue: the events→(sensors, values) derivation from
# plans/testdata.py in DuckDB SQL.
_PRELUDE = f"""
WITH sensors AS ({td.SENSORS_SQL}),
     vals AS ({td.VALUES_SQL})
"""


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _out(df: DataFrame) -> DataFrame:
    """Standard sample-query projection (operator Q9 result assembly)."""
    return df.select("sensor_id", "time", "value", "name")


def _entry_lake_dir(tag: str, sf_dir: str) -> str:
    """Fresh scratch dir for a registry entry that builds a throwaway
    lake. Per-PROCESS unique (pid suffix) so two concurrent registry
    runs on one host never race on the same path, while staying stable
    within a process so repeated calls are idempotent (rebuilt in
    place). A plain ``mkdtemp`` per call would leak a dir per
    invocation AND break the returned (lazy) DataFrame if cleaned at
    function exit — the lake files must still exist when the caller
    finally executes the plan — so cleanup happens at process exit
    instead."""
    import atexit
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"sensapp_{tag}_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


# ---------------------------------------------------------------------------
# Q1/Q10 — label-matcher selection (reference src/storage/sqlite/matchers.rs)
#
# The driver's correctness file caps at 50 registry rows, so several
# entries below verify a FAMILY of operators as one tagged union/join:
# each member runs through its real operator code path, gets a distinct
# tag column, and the union hash covers every member row-for-row. The
# individual operators stay independently callable library functions.
# ---------------------------------------------------------------------------

def _union_tagged(parts: list[tuple[str, DataFrame]], tag_col: str) -> DataFrame:
    from functools import reduce

    tagged = [
        df.select(F.lit(tag).alias(tag_col), "*") for tag, df in parts
    ]
    return reduce(lambda a, b: a.unionByName(b), tagged)


def _await_all(futures) -> None:
    """Wait for ALL futures, then re-raise. ``f1.result(); f2.result()``
    (or ``pool.map``) surfaces only the FIRST exception and silently
    discards any concurrent one, which can mask the more informative of
    two overlapping maintenance failures (round-13 ADVICE). Secondary
    errors ride the raised exception as ``__context__``-style notes.
    Errors are read in SUBMISSION order (``wait``'s done set is
    unordered), so the primary one is deterministic."""
    import concurrent.futures as _cf

    futures = list(futures)
    _cf.wait(futures)
    errs = [f.exception() for f in futures]
    errs = [e for e in errs if e is not None]
    if errs:
        primary = errs[0]
        for other in errs[1:]:
            primary.add_note(
                f"concurrent maintenance job also failed: {other!r}"
            )
        raise primary


def _operand_cache() -> dict:
    """One PromQL operand memo per ENTRY CONSTRUCTION (round 14, guide
    §2.4/§3.3): the tagged-union entries evaluate several expressions
    whose operands repeat (rate(click[31d]) appears in all 7
    binary_ratio cases); a shared dict lets the evaluator build each
    canonically-equal per-series vector once and localCheckpoint it, so
    union branches stop re-executing the sample scan + reduction (AQE's
    stage cache does not reuse canonically-equal exchanges across union
    branches — measured round 13). The dict never outlives one entry
    call, so every bench/oracle invocation still computes from parquet."""
    return {}


@register(
    "matcher_positive",
    _PRELUDE
    + """
    SELECT 'name_equal' AS matcher_case,
           v.sensor_id, v.time, v.value, s.name
    FROM vals v JOIN sensors s USING (sensor_id)
    WHERE s.name = 'click'
    UNION ALL
    SELECT 'label_equal', v.sensor_id, v.time, v.value, s.name
    FROM vals v JOIN sensors s USING (sensor_id)
    WHERE s.region_label = 'r1'
    UNION ALL
    SELECT 'name_regex', v.sensor_id, v.time, v.value, s.name
    FROM vals v JOIN sensors s USING (sensor_id)
    WHERE regexp_matches(s.name, '^(click|view)$')
    """,
)
def matcher_positive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 positive matchers — __name__ equality, label equality (absent
    label never matches), and __name__ regex — as one tagged union."""
    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    cases = [
        ("name_equal", [LabelMatcher("__name__", "click", MatcherType.EQUAL)]),
        ("label_equal", [LabelMatcher("region", "r1", MatcherType.EQUAL)]),
        (
            "name_regex",
            [LabelMatcher("__name__", "^(click|view)$", MatcherType.REGEX_MATCH)],
        ),
    ]
    return _union_tagged(
        [(tag, _out(query_samples(sensors, vals, ms))) for tag, ms in cases],
        "matcher_case",
    )


@register(
    "matcher_negative",
    _PRELUDE
    + """
    SELECT 'label_not_equal' AS matcher_case,
           v.sensor_id, v.time, v.value, s.name
    FROM vals v JOIN sensors s USING (sensor_id)
    WHERE s.name = 'view'
      AND (s.region_label IS NULL OR s.region_label <> 'r1')
    UNION ALL
    SELECT 'label_not_regex', v.sensor_id, v.time, v.value, s.name
    FROM vals v JOIN sensors s USING (sensor_id)
    WHERE s.name = 'signup'
      AND (s.region_label IS NULL OR NOT regexp_matches(s.region_label, 'r[12]'))
    """,
)
def matcher_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 negative matchers with the reference's absent-label semantics:
    != and !~ match sensors lacking the label entirely
    (src/storage/query.rs:18-34)."""
    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    cases = [
        (
            "label_not_equal",
            [
                LabelMatcher("__name__", "view", MatcherType.EQUAL),
                LabelMatcher("region", "r1", MatcherType.NOT_EQUAL),
            ],
        ),
        (
            "label_not_regex",
            [
                LabelMatcher("__name__", "signup", MatcherType.EQUAL),
                LabelMatcher("region", "r[12]", MatcherType.REGEX_NOT_MATCH),
            ],
        ),
    ]
    return _union_tagged(
        [(tag, _out(query_samples(sensors, vals, ms))) for tag, ms in cases],
        "matcher_case",
    )


# ---------------------------------------------------------------------------
# Q5/Q7/Q11 — time range, per-sensor top-N, single-series fetch
# ---------------------------------------------------------------------------

@register(
    "time_range_scan",
    _PRELUDE
    + f"""
    SELECT v.sensor_id, v.time, v.value, s.name
    FROM vals v JOIN sensors s USING (sensor_id)
    WHERE s.name = 'purchase'
      AND v.time >= TIMESTAMP '{T_START}' AND v.time <= TIMESTAMP '{T_END}'
    """,
)
def time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: inclusive-both-ends time-range filter — pushed down to parquet."""
    return _out(
        query_samples(
            td.events_sensors(spark, sf_dir),
            td.events_values(spark, sf_dir),
            [LabelMatcher("__name__", "purchase", MatcherType.EQUAL)],
            start=T_START,
            end=T_END,
        )
    )


@register(
    "per_sensor_topn",
    _PRELUDE
    + """
    SELECT sensor_id, time, value, event_id FROM (
        SELECT v.*, row_number() OVER (
            PARTITION BY v.sensor_id ORDER BY v.time, v.event_id) AS rn
        FROM vals v JOIN sensors s USING (sensor_id)
        WHERE s.name = 'error'
    ) WHERE rn <= 3
    """,
)
def per_sensor_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: first-3 samples per sensor in time order, event_id tiebreak.
    Physical plan uses WindowGroupLimit (partial top-K before shuffle)."""
    df = query_samples(
        td.events_sensors(spark, sf_dir),
        td.events_values(spark, sf_dir),
        [LabelMatcher("__name__", "error", MatcherType.EQUAL)],
        limit=3,
        tiebreakers=["event_id"],
    )
    return df.select("sensor_id", "time", "value", "event_id")


@register(
    "single_series_fetch",
    _PRELUDE
    + f"""
    SELECT sensor_id, time, value FROM vals
    WHERE sensor_id = 'click/7'
      AND time >= TIMESTAMP '{T_START}' AND time <= TIMESTAMP '{T_END}'
    ORDER BY time LIMIT 100
    """,
)
def single_series_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: single series by id with range + limit
    (reference src/storage/sqlite/storage.rs:275-427)."""
    df = fetch_series(
        td.events_sensors(spark, sf_dir),
        td.events_values(spark, sf_dir),
        "click/7",
        start=T_START,
        end=T_END,
        limit=100,
    )
    return df.select("sensor_id", "time", "value")


@register(
    "dedup_exact_values",
    _PRELUDE
    + """
    SELECT DISTINCT sensor_id, time, value
    FROM (SELECT * FROM vals UNION ALL SELECT * FROM vals)
    """,
)
def dedup_exact_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-dedup: exact duplicate elimination on (sensor_id, time, value)
    (reference src/storage/sqlite/storage.rs:632-661). Input is doubled to
    prove the rewrite actually removes rows."""
    v = td.events_values(spark, sf_dir).select("sensor_id", "time", "value")
    return dedup_values(v.union(v))


# ---------------------------------------------------------------------------
# C1-C4 — catalog aggregates
# ---------------------------------------------------------------------------

@register(
    "catalog_metrics_summary",
    _PRELUDE
    + """
    SELECT name, type,
           CAST(NULL AS VARCHAR) AS unit,
           COUNT(DISTINCT sensor_id) AS series_count,
           array_to_string(list_sort(list_distinct(flatten(list(keys)))),
                           ',') AS label_keys
    FROM (
        SELECT name, type, sensor_id,
               CASE WHEN region_label IS NULL THEN ['user']
                    ELSE ['user', 'region'] END AS keys
        FROM sensors
    )
    GROUP BY name, type
    """,
)
def catalog_metrics_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: metrics_summary view — GROUP BY (name,type) over the dimension
    only; never touches value tables, so cost is O(sensors) at any scale."""
    df = metrics_summary(td.events_sensors(spark, sf_dir))
    return df.select(
        "name",
        "type",
        "unit",
        "series_count",
        F.array_join("label_keys", ",").alias("label_keys"),
    )


@register(
    "catalog_series_view",
    _PRELUDE
    + """
    SELECT sensor_id, name, type,
           CAST(NULL AS VARCHAR) AS unit_name,
           CASE WHEN region_label IS NULL THEN 'user=' || user_label
                ELSE 'region=' || region_label || ',user=' || user_label
           END AS labels,
           name || '{' ||
           CASE WHEN region_label IS NULL THEN ''
                ELSE 'region="' || region_label || '",' END ||
           'user="' || user_label || '"' || '}' AS series
    FROM sensors
    """,
)
def catalog_series_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 + C4 as one joined entry: the ``sensor_catalog_view``
    projection (reference joins sensors⋈units; this dimension is
    denormalized, so a pure projection) joined on sensor_id to the
    series listing with Prometheus-style id ``name{k="v",…}``
    (src/ingestors/http/crud.rs:405-414). Labels render as a sorted
    ``k=v`` string for cross-engine MAP comparison; both are
    dimension-only plans at any scale."""
    from sensapp_spark.operators.catalog import sensor_catalog

    sensors = td.events_sensors(spark, sf_dir)
    cat = sensor_catalog(sensors)
    labels_str = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries("labels"),
                lambda e: F.concat(e.key, F.lit("="), e.value),
            )
        ),
        ",",
    )
    series = series_list(sensors).select("sensor_id", "series")
    return cat.select(
        "sensor_id", "name", "type", "unit_name", labels_str.alias("labels")
    ).join(series, "sensor_id")


@register(
    "catalog_label_values",
    _PRELUDE
    + """
    SELECT DISTINCT region_label AS value FROM sensors
    WHERE region_label IS NOT NULL
    """,
)
def catalog_label_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: Prometheus ``/api/v1/label/<name>/values`` —
    distinct values of one label over the dimension only (absent labels
    contribute nothing)."""
    from sensapp_spark.operators.catalog import label_values

    return label_values(td.events_sensors(spark, sf_dir), "region")


# ---------------------------------------------------------------------------
# Beyond-reference: sample-level aggregation (what simple_promql.rs:149-171
# rejects, expressed as native Spark aggregates)
# ---------------------------------------------------------------------------

@register(
    "downsample_rate_1h",
    _PRELUDE
    + """
    SELECT 'downsample' AS kind, s.name AS series,
           date_trunc('hour', v.time) AS bucket,
           COUNT(*) AS n,
           ROUND(AVG(v.value), 6) AS avg_value,
           MIN(v.value) AS min_value,
           MAX(v.value) AS max_value,
           CAST(NULL AS DOUBLE) AS rate
    FROM vals v JOIN sensors s USING (sensor_id)
    GROUP BY s.name, date_trunc('hour', v.time)
    UNION ALL
    SELECT 'rate', sensor_id, date_trunc('hour', time),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           ROUND((arg_max(value, time) - arg_min(value, time))
                 / ((epoch_us(max(time)) - epoch_us(min(time))) / 1e6), 6)
    FROM vals
    GROUP BY sensor_id, date_trunc('hour', time)
    HAVING epoch_us(max(time)) > epoch_us(min(time))
    UNION ALL
    SELECT 'continuous', sensor_id, date_trunc('hour', time),
           COUNT(*), ROUND(SUM(value) / COUNT(*), 6),
           MIN(value), MAX(value), CAST(NULL AS DOUBLE)
    FROM vals
    WHERE event_id % 10 = 0 AND (value IS NULL OR isfinite(value))
    GROUP BY sensor_id, date_trunc('hour', time)
    UNION ALL
    SELECT 'served', v.sensor_id, g.t,
           COUNT(*), ROUND(SUM(v.value) / COUNT(*), 6),
           MIN(v.value), MAX(v.value), CAST(NULL AS DOUBLE)
    FROM generate_series(TIMESTAMP '2024-01-10 00:00:00',
                         TIMESTAMP '2024-01-12 00:00:00',
                         INTERVAL 1 HOUR) AS g(t)
    JOIN vals v ON v.time >= g.t - INTERVAL 2 HOUR AND v.time <= g.t
    WHERE v.event_id % 10 = 0 AND (v.value IS NULL OR isfinite(v.value))
    GROUP BY v.sensor_id, g.t
    UNION ALL
    SELECT 'served_rate', v.sensor_id, g.t,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           ROUND((arg_max(v.value, v.time) - arg_min(v.value, v.time))
                 / ((epoch_us(max(v.time)) - epoch_us(min(v.time)))
                    / 1e6), 6)
    FROM generate_series(TIMESTAMP '2024-01-10 00:00:00',
                         TIMESTAMP '2024-01-12 00:00:00',
                         INTERVAL 1 HOUR) AS g(t)
    JOIN vals v ON v.time >= g.t - INTERVAL 2 HOUR AND v.time <= g.t
    WHERE v.event_id % 10 = 0 AND (v.value IS NULL OR isfinite(v.value))
    GROUP BY v.sensor_id, g.t
    HAVING epoch_us(max(v.time)) > epoch_us(min(v.time))
    UNION ALL
    SELECT 'served_stdvar', v.sensor_id, g.t,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           ROUND(var_pop(v.value), 6) + 0
    FROM generate_series(TIMESTAMP '2024-01-10 00:00:00',
                         TIMESTAMP '2024-01-12 00:00:00',
                         INTERVAL 1 HOUR) AS g(t)
    JOIN vals v ON v.time >= g.t - INTERVAL 2 HOUR AND v.time <= g.t
    WHERE v.event_id % 10 = 0 AND (v.value IS NULL OR isfinite(v.value))
    GROUP BY v.sensor_id, g.t
    UNION ALL
    SELECT 'served_resets', sensor_id, t,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(SUM(CASE WHEN pv IS NOT NULL AND value < pv
                         THEN 1 ELSE 0 END) AS DOUBLE)
    FROM (
        SELECT v.sensor_id, g.t AS t, v.value,
               lag(v.value) OVER (
                   PARTITION BY v.sensor_id, g.t
                   ORDER BY v.time, v.value
               ) AS pv
        FROM generate_series(TIMESTAMP '2024-01-10 00:00:00',
                             TIMESTAMP '2024-01-12 00:00:00',
                             INTERVAL 1 HOUR) AS g(t)
        JOIN vals v ON v.time >= g.t - INTERVAL 2 HOUR
                   AND v.time <= g.t
        WHERE v.event_id % 10 = 0
          AND (v.value IS NULL OR isfinite(v.value))
    ) GROUP BY sensor_id, t
    UNION ALL
    SELECT 'served_irate', sensor_id, t,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           ROUND(
               (CASE WHEN arg_min(value, rn) < arg_max(value, rn)
                     THEN arg_min(value, rn)
                     ELSE arg_min(value, rn) - arg_max(value, rn) END)
               / ((epoch_us(max(time)) - epoch_us(min(time))) / 1e6),
               6)
    FROM (
        SELECT v.sensor_id, g.t AS t, v.value, v.time,
               row_number() OVER (
                   PARTITION BY v.sensor_id, g.t
                   ORDER BY v.time DESC, v.value DESC
               ) AS rn
        FROM generate_series(TIMESTAMP '2024-01-10 00:00:00',
                             TIMESTAMP '2024-01-12 00:00:00',
                             INTERVAL 1 HOUR) AS g(t)
        JOIN vals v ON v.time >= g.t - INTERVAL 2 HOUR
                   AND v.time <= g.t
        WHERE v.event_id % 10 = 0
          AND (v.value IS NULL OR isfinite(v.value))
    ) WHERE rn <= 2
    GROUP BY sensor_id, t
    HAVING COUNT(*) = 2
       AND epoch_us(max(time)) > epoch_us(min(time))
    UNION ALL
    SELECT 'served_quantile', sensor_id, t,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           ROUND(quantile_cont(value, 0.5), 6) + 0
    FROM (
        SELECT sensor_id, t, value,
               row_number() OVER (
                   PARTITION BY sensor_id, t ORDER BY h, value
               ) AS wrn
        FROM (
            SELECT s.sensor_id, g.t AS t, s.value, s.h
            FROM (
                SELECT v.sensor_id, v.time, v.value,
                       date_trunc('hour', v.time) AS b,
                       CAST('0x' || substr(md5(v.sensor_id || ':'
                            || epoch_us(v.time)), 1, 15) AS UBIGINT)
                           AS h,
                       row_number() OVER (
                           PARTITION BY v.sensor_id,
                                        date_trunc('hour', v.time)
                           ORDER BY CAST('0x' || substr(
                               md5(v.sensor_id || ':'
                                   || epoch_us(v.time)), 1, 15)
                               AS UBIGINT), v.value
                       ) AS brn
                FROM vals v
                WHERE v.event_id % 10 = 0
                  AND (v.value IS NULL OR isfinite(v.value))
            ) s
            JOIN generate_series(TIMESTAMP '2024-01-10 00:00:00',
                                 TIMESTAMP '2024-01-12 00:00:00',
                                 INTERVAL 1 HOUR) AS g(t)
              ON s.b >= g.t - INTERVAL 2 HOUR
             AND s.b <= g.t - INTERVAL 1 HOUR
            WHERE s.brn <= 4
            UNION ALL
            SELECT s.sensor_id, g.t AS t, s.value, s.h
            FROM (
                SELECT v.sensor_id, v.time, v.value,
                       CAST('0x' || substr(md5(v.sensor_id || ':'
                            || epoch_us(v.time)), 1, 15) AS UBIGINT)
                           AS h,
                       row_number() OVER (
                           PARTITION BY v.sensor_id,
                                        date_trunc('hour', v.time)
                           ORDER BY CAST('0x' || substr(
                               md5(v.sensor_id || ':'
                                   || epoch_us(v.time)), 1, 15)
                               AS UBIGINT), v.value
                       ) AS ern
                FROM vals v
                WHERE v.event_id % 10 = 0
                  AND (v.value IS NULL OR isfinite(v.value))
                  AND epoch_us(v.time) % 3600000000 = 0
            ) s
            JOIN generate_series(TIMESTAMP '2024-01-10 00:00:00',
                                 TIMESTAMP '2024-01-12 00:00:00',
                                 INTERVAL 1 HOUR) AS g(t)
              ON s.time = g.t
            WHERE s.ern <= 4
        )
    ) WHERE wrn <= 4
    GROUP BY sensor_id, t
    """,
)
def downsample_rate_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference downsampling family as one tagged union: hourly
    min/avg/max/count per metric, PromQL-style rate() per sensor per
    hour ((last-first)/seconds via max_by/min_by JVM aggregates), and
    ``continuous`` — the same hourly quartet served from an
    INCREMENTALLY MAINTAINED RollupStore (storage/rollup.py), built
    in-entry in two refresh ticks so the hash gate proves
    maintained == direct aggregation — ``served`` (round 11) —
    closed range windows folded from that rollup's buckets + edge
    quartet (query/rollup_serve.py), the path /api/v1/query_range now
    auto-routes through, pinned against the oracle recomputing the
    same windows from raw — and ``served_rate`` (round 12) — rate()
    folded from the rollup's first/last quartet, the Grafana counter
    panel served without a raw scan. The ad-hoc arms are
    single-shuffle partial aggregations — shuffle bytes ∝ buckets,
    not samples, at any scale; the continuous/served arms are what a
    dashboard reads INSTEAD of them at 100 TB."""
    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    joined = vals.join(F.broadcast(sensors.select("sensor_id", "name")), "sensor_id")
    down = (
        joined.groupBy("name", F.date_trunc("hour", "time").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.lit("downsample").alias("kind"),
            F.col("name").alias("series"),
            "bucket", "n", "avg_value", "min_value", "max_value",
            F.lit(None).cast("double").alias("rate"),
        )
    )
    # µs-precision span: unix_timestamp would truncate to whole seconds
    # and drift from the oracle's epoch_us arithmetic.
    span = (F.unix_micros(F.max("time")) - F.unix_micros(F.min("time"))) / 1e6
    rate = (
        vals.groupBy("sensor_id", F.date_trunc("hour", "time").alias("bucket"))
        .agg(
            F.round(
                (F.max_by("value", "time") - F.min_by("value", "time")) / span,
                6,
            ).alias("rate"),
            span.alias("__span"),
        )
        .filter(F.col("__span") > 0)
        .select(
            F.lit("rate").alias("kind"),
            F.col("sensor_id").alias("series"),
            "bucket",
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("double").alias("avg_value"),
            F.lit(None).cast("double").alias("min_value"),
            F.lit(None).cast("double").alias("max_value"),
            "rate",
        )
    )
    # ``continuous`` (round 10): the MAINTAINED rollup — a real lake is
    # written in two halves with a RollupStore.refresh() after each, so
    # the value-hash gate covers the incremental maintenance path
    # (recompute-affected-buckets), not just a fresh aggregation. The
    # oracle re-aggregates the same thinned rows directly: maintained
    # == direct is the continuous aggregate's whole contract
    # (storage/rollup.py; non-finite drop replayed like kmv_sidecar).
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.storage.lake import SensorLake
    from sensapp_spark.storage.rollup import RollupStore

    lake = SensorLake(spark, _entry_lake_dir("rollup_cagg", sf_dir))
    thin = vals.filter(F.col("event_id") % 10 == 0)
    store = RollupStore(lake, grain_s=3600)
    lake.append_values(
        SensorType.FLOAT,
        thin.filter(F.col("event_id") % 20 == 0)
        .drop("event_id").coalesce(4),
    )
    store.refresh(SensorType.FLOAT)
    lake.append_values(
        SensorType.FLOAT,
        thin.filter(F.col("event_id") % 20 != 0)
        .drop("event_id").coalesce(4),
    )
    # The second scalar-rollup tick and the quantile store's one-shot
    # build (defined below, used by the served_quantile arm) are
    # independent maintenance jobs on DISJOINT tables over the same
    # committed lake version — overlap them from a driver pool (guide
    # §2.6) instead of running the quantile build serially after every
    # served arm's construction. Each store's commit is its own CAS
    # dir; rows are identical either way.
    from concurrent.futures import ThreadPoolExecutor

    from sensapp_spark.storage.qrollup import (
        QuantileRollupStore,
        quantile_windows,
    )

    class _QK4(QuantileRollupStore):
        K = 4
        _TABLE_SUFFIX = "quantile4_"

    qstore = _QK4(lake, grain_s=3600)
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _await_all([
            _pool.submit(store.refresh, SensorType.FLOAT),
            _pool.submit(qstore.refresh, SensorType.FLOAT),
        ])
    cont = store.read(SensorType.FLOAT).select(
        F.lit("continuous").alias("kind"),
        F.col("sensor_id").alias("series"),
        "bucket",
        F.col("cnt").alias("n"),
        F.round(F.col("vsum") / F.col("cnt"), 6).alias("avg_value"),
        F.col("vmin").alias("min_value"),
        F.col("vmax").alias("max_value"),
        F.lit(None).cast("double").alias("rate"),
    )
    # ``served`` (round 11): rollup-SERVED closed range windows
    # (query/rollup_serve.py — what /api/v1/query_range now reads
    # instead of raw rows when the window arithmetic is
    # grain-compatible). Step grid 1h over [Jan 10, Jan 12], window
    # [t−2h, t] INCLUSIVE-BOTH (Q5 semantics): each window folds from
    # two full buckets plus the edge quartet of the boundary bucket.
    # The oracle recomputes the same closed windows directly from the
    # thinned raw rows — rollup-served == raw truth is the whole
    # point of the serving path.
    from sensapp_spark.query.rollup_serve import range_windows

    g_start = dt.datetime(2024, 1, 10)
    start_us = int(
        g_start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    # realtime=False: the store is fully refreshed two lines up, so
    # the committed read is exact here and skips the feed poll + tail
    # recompute (realtime-tail exactness is pinned by
    # tests/test_rollup_serve.py); keeps the in-entry verification
    # cost bounded (r10 verdict watch item 3).
    #
    # Round-13 optimization (guide §2.4): the five served arms fold
    # from TWO shared window frames instead of three distinct ones —
    # the scalar arms (served / served_rate / served_stdvar) keep the
    # scalar-stat frame they already shared, and the two ordered arms
    # (served_resets / served_irate) now share one {seq, last2} frame
    # instead of building a pruned pass each. Identical subtrees
    # dedup at runtime via AQE stage reuse, so one rollup scan +
    # explode + shuffle serves each GROUP; a single all-stats frame
    # for all five was measured SLOWER (the collect_list merges ride
    # every scalar arm's explode — the round-12 payload-pruning
    # lesson applies to sharing too). The HTTP route still prunes to
    # a single function's need-set (rollup_serve._needed_stats).
    win = range_windows(
        store, SensorType.FLOAT,
        start=g_start, end=dt.datetime(2024, 1, 12),
        step_seconds=3600, window_seconds=7200, realtime=False,
    )
    bucket_col = F.timestamp_micros(
        (F.lit(start_us) + F.col("__i") * F.lit(3_600_000_000))
        .cast("long")
    ).alias("bucket")
    served = win.select(
        F.lit("served").alias("kind"),
        F.col("sensor_id").alias("series"),
        bucket_col,
        F.col("cnt").alias("n"),
        F.round(F.col("vsum") / F.col("cnt"), 6).alias("avg_value"),
        F.col("vmin").alias("min_value"),
        F.col("vmax").alias("max_value"),
        F.lit(None).cast("double").alias("rate"),
    )
    # ``served_rate`` (round 12): rate() folded from the rollup's
    # first/last quartet (query/rollup_serve.py) — the path
    # /api/v1/query_range now takes for every Grafana counter panel —
    # pinned against the oracle recomputing (last−first)/span over the
    # same closed windows from raw. Same windows as ``served``;
    # single-sample (span 0) windows drop on both sides.
    span = (
        F.unix_micros(F.col("last")["t"])
        - F.unix_micros(F.col("first")["t"])
    ) / 1e6
    served_rate = win.filter(span > 0).select(
        F.lit("served_rate").alias("kind"),
        F.col("sensor_id").alias("series"),
        bucket_col,
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("double").alias("avg_value"),
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
        F.round(
            (F.col("last")["v"] - F.col("first")["v"])
            / (
                (F.unix_micros(F.col("last")["t"])
                 - F.unix_micros(F.col("first")["t"])) / 1e6
            ),
            6,
        ).alias("rate"),
    )
    # ``served_stdvar`` (round 12): population variance folded from
    # the rollup's second moment (Σv²/n − μ² — the AggregatingMergeTree
    # moment state), pinned against DuckDB's var_pop over the same
    # closed windows; ROUND(.., 6) absorbs the summation-order ULP
    # class the other folded sums already document. `+ 0.0`
    # canonicalizes an IEEE −0.0 from the clamped subtraction.
    served_stdvar = win.select(
        F.lit("served_stdvar").alias("kind"),
        F.col("sensor_id").alias("series"),
        bucket_col,
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("double").alias("avg_value"),
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
        (F.round(
            F.greatest(
                F.lit(0.0),
                F.col("vsum2") / F.col("cnt")
                - (F.col("vsum") / F.col("cnt"))
                * (F.col("vsum") / F.col("cnt")),
            ),
            6,
        ) + F.lit(0.0)).alias("rate"),
    )
    # ``served_resets`` / ``served_irate`` (round 13): the schema-3
    # ORDERED per-bucket state — within-bucket reset counters plus the
    # cross-bucket boundary fold, and the last-two-samples struct —
    # through the ENGINE's own value expressions (rollup_serve.
    # _func_value), pinned against DuckDB recomputing resets (lag over
    # (time, value) order) and irate (top-2 by (time, value) desc,
    # counter-reset rule) from the same closed windows over raw rows.
    from sensapp_spark.query.rollup_serve import _func_value

    # ONE ordered-stat frame shared by both ordered arms (see the
    # sharing note above): identical subtrees dedup to a single
    # executed scan+explode+shuffle at runtime.
    win_ord = range_windows(
        store, SensorType.FLOAT,
        start=g_start, end=dt.datetime(2024, 1, 12),
        step_seconds=3600, window_seconds=7200, realtime=False,
        need=frozenset({"seq", "last2", "nrows"}),
    )

    def _served_arm(kind, func):
        # Fold from the shared ordered frame: same values as a
        # per-function pruned pass — _func_value reads only its own
        # stat columns.
        value, keep = _func_value(func)
        win_f = win_ord if keep is None else win_ord.filter(keep)
        return win_f.select(
            F.lit(kind).alias("kind"),
            F.col("sensor_id").alias("series"),
            bucket_col,
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("double").alias("avg_value"),
            F.lit(None).cast("double").alias("min_value"),
            F.lit(None).cast("double").alias("max_value"),
            F.round(value, 6).alias("rate"),
        )

    served_resets = _served_arm("served_resets", "resets")
    served_irate = _served_arm("served_irate", "irate")
    # ``served_quantile`` (round 13): the OPT-IN approximate
    # quantile_over_time path — a deterministic bottom-k value sample
    # per bucket (storage/qrollup.py), merged per closed window, k
    # smallest (md5-prefix hash, value) pairs kept, φ-quantile
    # linearly interpolated. K=4 here ON PURPOSE: sf0.01 windows hold
    # fewer than the production K=256 samples, so the default store
    # would never truncate and the gate would only pin the exact-
    # below-k path; the tiny K forces the selection/merge/truncation
    # logic through the hash gate. The oracle replays the identical
    # algorithm in DuckDB (same md5-prefix hashes — the kmv_cagg
    # precedent) ending in quantile_cont over the same 4-sample set.
    # (_QK4/qstore defined and refreshed above, overlapped with the
    # second scalar-rollup tick.)
    qwin = quantile_windows(
        qstore, SensorType.FLOAT,
        start=g_start, end=dt.datetime(2024, 1, 12),
        step_seconds=3600, window_seconds=7200, phi=0.5,
        realtime=False,
    )
    served_quantile = qwin.select(
        F.lit("served_quantile").alias("kind"),
        F.col("sensor_id").alias("series"),
        bucket_col,
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("double").alias("avg_value"),
        F.lit(None).cast("double").alias("min_value"),
        F.lit(None).cast("double").alias("max_value"),
        (F.round(F.col("value"), 6) + F.lit(0.0)).alias("rate"),
    )
    return (
        down.unionByName(rate).unionByName(cont)
        .unionByName(served).unionByName(served_rate)
        .unionByName(served_stdvar).unionByName(served_resets)
        .unionByName(served_irate).unionByName(served_quantile)
    )


# ---------------------------------------------------------------------------
# Beyond-reference: PromQL-class aggregations (the expressions
# simple_promql.rs:149-171 rejects), composite/virtual sensors
# (docs/DATAMODEL.md:125-131 — designed there, implemented here)
# ---------------------------------------------------------------------------

@register(
    "agg_stats_by_label",
    _PRELUDE
    + """
    SELECT name, COALESCE(region_label, 'none') AS region,
           ROUND(SUM(value), 6) AS total, COUNT(*) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM vals JOIN sensors USING (sensor_id)
    GROUP BY name, COALESCE(region_label, 'none')
    """,
)
def agg_stats_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style sum by(name, region) plus exact interpolated
    percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) in one
    label-grouped aggregation over samples — the expression class the
    reference 400s. One shuffle with map-side partials; at 100 TB swap
    ``percentile`` for ``approx_percentile`` (sketch-mergeable)."""
    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    joined = vals.join(
        F.broadcast(sensors.select("sensor_id", "name", "labels")), "sensor_id"
    )
    region = F.coalesce(F.element_at("labels", F.lit("region")), F.lit("none"))
    return joined.groupBy("name", region.alias("region")).agg(
        F.round(F.sum("value"), 6).alias("total"),
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "virtual_sensor_join",
    _PRELUDE
    + """
    , click AS (
        SELECT v.sensor_id, strftime(date_trunc('day', v.time), '%Y-%m-%d') AS bucket,
               AVG(value) AS click_avg
        FROM vals v JOIN sensors s USING (sensor_id)
        WHERE s.name = 'click' GROUP BY 1, 2),
    views AS (
        SELECT replace(sensor_id, 'view/', 'click/') AS sensor_id,
               strftime(date_trunc('day', time), '%Y-%m-%d') AS bucket,
               AVG(value) AS view_avg
        FROM vals JOIN sensors USING (sensor_id)
        WHERE name = 'view' GROUP BY 1, 2)
    SELECT sensor_id, bucket,
           ROUND(click_avg, 6) AS click_avg,
           ROUND(view_avg, 6) AS view_avg,
           ROUND(click_avg / NULLIF(view_avg, 0), 6) AS ratio
    FROM click JOIN views USING (sensor_id, bucket)
    """,
)
def virtual_sensor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite 'virtual sensor' (docs/DATAMODEL.md:125-131, designed but
    never built in the reference): two series resampled to a shared
    window and joined on (series, bucket). Both sides pre-aggregate
    before the join, so the shuffle carries buckets, not samples."""
    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    joined = vals.join(F.broadcast(sensors.select("sensor_id", "name")), "sensor_id")
    # STRING bucket on both sides: DuckDB's date_trunc('day') yields DATE
    # while Spark's yields TIMESTAMP, and date-vs-timestamp marshals
    # differently through every comparison layer (raw rows, pandas).
    # A formatted string is identical everywhere.
    bucket = F.date_format(F.date_trunc("day", "time"), "yyyy-MM-dd").alias(
        "bucket"
    )
    click = (
        joined.filter(F.col("name") == "click")
        .groupBy("sensor_id", bucket)
        .agg(F.avg("value").alias("click_avg"))
    )
    views = (
        joined.filter(F.col("name") == "view")
        .withColumn(
            "sensor_id", F.regexp_replace("sensor_id", "^view/", "click/")
        )
        .groupBy("sensor_id", bucket)
        .agg(F.avg("value").alias("view_avg"))
    )
    return click.join(views, ["sensor_id", "bucket"]).select(
        "sensor_id", "bucket",
        F.round("click_avg", 6).alias("click_avg"),
        F.round("view_avg", 6).alias("view_avg"),
        F.round(F.try_divide(F.col("click_avg"),
                             F.nullif(F.col("view_avg"), F.lit(0.0))), 6)
        .alias("ratio"),
    )


@register(
    "promql_ext_agg",
    _PRELUDE
    + """
    , rates AS (
        SELECT sensor_id,
               (arg_max(value, time) - arg_min(value, time))
                 / ((epoch_us(MAX(time)) - epoch_us(MIN(time))) / 1e6)
                 AS value
        FROM vals
        WHERE time >= TIMESTAMP '2024-01-01'
          AND time <= TIMESTAMP '2024-02-01'
          AND sensor_id IN (SELECT sensor_id FROM sensors
                            WHERE name = 'click')
        GROUP BY sensor_id
        HAVING epoch_us(MAX(time)) > epoch_us(MIN(time))),
    lastv AS (
        SELECT sensor_id, arg_max(value, time) AS value
        FROM vals
        WHERE time >= TIMESTAMP '2024-01-01'
          AND time <= TIMESTAMP '2024-02-01'
          AND sensor_id IN (SELECT sensor_id FROM sensors
                            WHERE name = 'click')
        GROUP BY sensor_id),
    incs AS (
        SELECT sensor_id,
               arg_max(value, time) - arg_min(value, time) AS value
        FROM vals
        WHERE time >= TIMESTAMP '2024-01-01'
          AND time <= TIMESTAMP '2024-02-01'
          AND sensor_id IN (SELECT sensor_id FROM sensors
                            WHERE name = 'view')
        GROUP BY sensor_id
        HAVING epoch_us(MAX(time)) > epoch_us(MIN(time)))
    SELECT 'sum_rate_by' AS op, s.region_label AS key,
           ROUND(SUM(r.value), 6) AS value
    FROM rates r JOIN sensors s USING (sensor_id) GROUP BY 2
    UNION ALL
    SELECT 'stddev_by', s.region_label, ROUND(stddev_pop(l.value), 6)
    FROM lastv l JOIN sensors s USING (sensor_id) GROUP BY 2
    UNION ALL
    SELECT 'sum_without', CASE WHEN s.region_label IS NULL THEN ''
                ELSE 'region="' || s.region_label || '"' END,
           ROUND(SUM(i.value), 6)
    FROM incs i JOIN sensors s USING (sensor_id) GROUP BY 2
    UNION ALL
    SELECT 'label_replace', 'u' || substring(s.user_label, 1, 1),
           ROUND(SUM(l.value), 6)
    FROM lastv l JOIN sensors s USING (sensor_id) GROUP BY 2
    """,
)
def promql_ext_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: the extended-PromQL aggregation family — every
    expression class the reference 400s (simple_promql.rs:149-171),
    parsed from the PromQL string and evaluated as DataFrame plans, as
    one tagged union:

    * ``sum by (region) (rate(click[31d]))``
    * ``stddev by (region) (last_over_time(click[31d]))`` (population
      stddev, Prometheus semantics)
    * ``sum without (user) (increase(view[31d]))`` — complement-label
      grouping keyed on the canonical remaining-labels string
    * ``sum by (bucket) (label_replace(last_over_time(click[31d]),
      "bucket", "u$1", "user", "([0-9]).*"))`` — label manipulation
      feeding an aggregation

    ``now`` pinned for determinism. Every member aggregates series-sized
    frames after a per-series window reduction — one sample-scan shuffle
    each, dimension-sized joins after."""
    from sensapp_spark.query.promql_ext import (
        evaluate_extended,
        parse_extended,
    )

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    now = dt.datetime(2024, 2, 1)
    cases = [
        ("sum_rate_by", "sum by (region) (rate(click[31d]))", "region"),
        (
            "stddev_by",
            "stddev by (region) (last_over_time(click[31d]))",
            "region",
        ),
        ("sum_without", "sum without (user) (increase(view[31d]))", "labels"),
        (
            "label_replace",
            'sum by (bucket) (label_replace(last_over_time(click[31d]), '
            '"bucket", "u$1", "user", "([0-9]).*"))',
            "bucket",
        ),
    ]
    cache = _operand_cache()
    parts = []
    for tag, expr, key_col in cases:
        out = evaluate_extended(
            sensors, vals, parse_extended(expr, now=now), cache
        )
        parts.append(
            (
                tag,
                out.select(
                    F.col(key_col).alias("key"),
                    F.round("value", 6).alias("value"),
                ),
            )
        )
    return _union_tagged(parts, "op")


@register(
    "promql_ext_topk",
    _PRELUDE
    + """
    , sums AS (
        SELECT v.sensor_id, s.region_label, s.user_label,
               SUM(v.value) AS value
        FROM vals v JOIN sensors s USING (sensor_id)
        WHERE v.time >= TIMESTAMP '2024-01-01'
          AND v.time <= TIMESTAMP '2024-02-01'
          AND s.name = 'click'
        GROUP BY 1, 2, 3)
    SELECT 'plain' AS op, sensor_id AS key, ROUND(value, 6) AS value
    FROM (
        SELECT sensor_id, value,
               row_number() OVER (ORDER BY value DESC, sensor_id) AS rn
        FROM sums) WHERE rn <= 3
    UNION ALL
    SELECT 'nested_topk_by', region, ROUND(value, 6) FROM (
        SELECT region, value,
               row_number() OVER (ORDER BY value DESC, region) AS rn
        FROM (SELECT region_label AS region, SUM(value) AS value
              FROM sums GROUP BY 1)) WHERE rn <= 2
    UNION ALL
    SELECT 'nested_sum_topk', CAST(NULL AS VARCHAR), ROUND(SUM(value), 6)
    FROM (
        SELECT value,
               row_number() OVER (ORDER BY value DESC, sensor_id) AS rn
        FROM sums) WHERE rn <= 3
    UNION ALL
    SELECT 'nested_max_by', region, ROUND(MAX(value), 6) FROM (
        SELECT region_label AS region, user_label, SUM(value) AS value
        FROM sums GROUP BY 1, 2)
    GROUP BY region
    UNION ALL
    SELECT 'triple_sum_topk', CAST(NULL AS VARCHAR), ROUND(SUM(value), 6)
    FROM (
        SELECT region, value,
               row_number() OVER (ORDER BY value DESC, region) AS rn
        FROM (SELECT region_label AS region, SUM(value) AS value
              FROM sums GROUP BY 1)) WHERE rn <= 2
    """,
)
def promql_ext_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: PromQL series/group selection by extreme value,
    including NESTED aggregations (round 8) — tagged union:

    * ``plain``: ``topk(3, sum_over_time(click[31d]))`` — series
      selection; the row_number window runs over the per-series
      instant vector (dimension-sized), never over raw samples.
    * ``nested_topk_by``: ``topk(2, sum by (region) (…))`` — the
      canonical dashboard shape; the outer window runs over the inner
      aggregation's GROUPS (≤ label cardinality).
    * ``nested_sum_topk``: ``sum(topk(3, …))`` — reduction over a
      selection (series-shaped inner keeps its label map).
    * ``nested_max_by``: ``max by (region) (sum by (region, user) (…))``
      — outer keys a subset of inner keys, column-shaped all the way.
    * ``triple_sum_topk`` (round 9): ``sum(topk(2, sum by (region)
      (…)))`` — the permitted THIRD level ("total held by the top
      k"), an ungrouped plain reduction over the level-2 sampler.

    Prometheus evaluates nesting inner-first (promql/engine.go); the
    oracle replays each level as its own SQL window/grouping."""
    from sensapp_spark.query.promql_ext import (
        evaluate_extended,
        parse_extended,
    )

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    now = dt.datetime(2024, 2, 1)
    cases = [
        ("plain", "topk(3, sum_over_time(click[31d]))", "sensor_id"),
        (
            "nested_topk_by",
            "topk(2, sum by (region) (sum_over_time(click[31d])))",
            "region",
        ),
        ("nested_sum_topk", "sum(topk(3, sum_over_time(click[31d])))", None),
        (
            "nested_max_by",
            "max by (region) (sum by (region, user) "
            "(sum_over_time(click[31d])))",
            "region",
        ),
        (
            "triple_sum_topk",
            "sum(topk(2, sum by (region) (sum_over_time(click[31d]))))",
            None,
        ),
    ]
    cache = _operand_cache()
    parts = []
    for tag, expr, key_col in cases:
        out = evaluate_extended(
            sensors, vals, parse_extended(expr, now=now), cache
        )
        key = (
            F.col(key_col).cast("string")
            if key_col is not None
            else F.lit(None).cast("string")
        )
        parts.append(
            (
                tag,
                out.select(
                    key.alias("key"), F.round("value", 6).alias("value")
                ),
            )
        )
    return _union_tagged(parts, "op")


@register(
    "promql_ext_instant",
    _PRELUDE
    + """
    SELECT 'quantile' AS func, sensor_id,
           ROUND(quantile_cont(value, 0.9), 6) AS value
    FROM vals
    WHERE time >= TIMESTAMP '2024-01-01'
      AND time <= TIMESTAMP '2024-02-01'
      AND sensor_id IN (SELECT sensor_id FROM sensors WHERE name = 'view')
    GROUP BY sensor_id
    UNION ALL
    SELECT 'avg_offset', sensor_id, ROUND(AVG(value), 6)
    FROM vals
    WHERE time >= TIMESTAMP '2024-01-11'
      AND time <= TIMESTAMP '2024-01-21'
      AND sensor_id IN (SELECT sensor_id FROM sensors
                        WHERE name = 'purchase')
    GROUP BY sensor_id
    UNION ALL
    SELECT 'clamp_sqrt', sensor_id,
           ROUND(LEAST(sqrt(AVG(value)), 2.5), 6)
    FROM vals
    WHERE time >= TIMESTAMP '2024-01-01'
      AND time <= TIMESTAMP '2024-02-01'
      AND sensor_id IN (SELECT sensor_id FROM sensors
                        WHERE name = 'purchase')
    GROUP BY sensor_id
    UNION ALL
    SELECT 'absent_missing', CAST(NULL AS VARCHAR), 1.0
    WHERE NOT EXISTS (
        SELECT 1 FROM vals v
        WHERE v.time >= TIMESTAMP '2024-01-01'
          AND v.time <= TIMESTAMP '2024-02-01'
          AND v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'nosuch'))
    UNION ALL
    SELECT 'absent_present', CAST(NULL AS VARCHAR), 1.0
    WHERE NOT EXISTS (
        SELECT 1 FROM vals v
        WHERE v.time >= TIMESTAMP '2024-01-01'
          AND v.time <= TIMESTAMP '2024-02-01'
          AND v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'click'))
    UNION ALL
    SELECT 'at_anchor', sensor_id, ROUND(AVG(value), 6)
    FROM vals
    WHERE time >= TIMESTAMP '2024-01-11'
      AND time <= TIMESTAMP '2024-01-21'
      AND sensor_id IN (SELECT sensor_id FROM sensors WHERE name = 'view')
    GROUP BY sensor_id
    UNION ALL
    SELECT 'date_hour', sensor_id, CAST(hour(MAX(time)) AS DOUBLE)
    FROM vals
    WHERE time >= TIMESTAMP '2024-01-30 22:59:00'
      AND time <= TIMESTAMP '2024-01-30 23:59:00'
      AND sensor_id IN (SELECT sensor_id FROM sensors WHERE name = 'click')
    GROUP BY sensor_id
    UNION ALL
    SELECT 'time_const', CAST(NULL AS VARCHAR), 1706745600.0
    UNION ALL
    SELECT 'mad', sensor_id, ROUND(mad(value), 6)
    FROM vals
    WHERE time >= TIMESTAMP '2024-01-01'
      AND time <= TIMESTAMP '2024-02-01'
      AND sensor_id IN (SELECT sensor_id FROM sensors WHERE name = 'view')
    GROUP BY sensor_id
    UNION ALL
    SELECT 'holt_winters', sensor_id,
           -- State rides a DOUBLE[4] list [s0, s1, b, i] rather than a
           -- struct: DuckDB 1.0's list_reduce mis-binds struct
           -- accumulator fields (a probe shows {'p': a.q, 'q': a.q+b.p}
           -- assigning q's value to p); list elements bind correctly.
           ROUND((list_reduce(
             [[0.0::DOUBLE, vs[1], vs[2] - vs[1], 0.0]] ||
             list_transform(vs[2:], x -> [0.0::DOUBLE, x, 0.0, 0.0]),
             (acc, e) -> [
               acc[2],
               0.5 * e[2] + (1.0 - 0.5) * (acc[2] +
                     CASE WHEN acc[4] = 0 THEN acc[3]
                          ELSE 0.25 * (acc[2] - acc[1])
                               + (1.0 - 0.25) * acc[3] END),
               CASE WHEN acc[4] = 0 THEN acc[3]
                    ELSE 0.25 * (acc[2] - acc[1])
                         + (1.0 - 0.25) * acc[3] END,
               acc[4] + 1.0
             ]))[2], 6) AS value
    FROM (
        SELECT sensor_id, list(value::DOUBLE ORDER BY time, value) AS vs
        FROM vals
        WHERE time >= TIMESTAMP '2024-01-01'
          AND time <= TIMESTAMP '2024-02-01'
          AND sensor_id IN (SELECT sensor_id FROM sensors
                            WHERE name = 'click')
        GROUP BY sensor_id
        HAVING COUNT(*) >= 2)
    """,
)
def promql_ext_instant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: instant-vector evaluation family as one tagged
    union —

    * ``quantile_over_time(0.9, view[31d])`` (Spark ``percentile`` ≡
      DuckDB ``quantile_cont``, both linear interpolation)
    * ``avg_over_time(purchase[10d] offset 11d)`` — the offset modifier
      is pure plan-time window arithmetic; the shifted range still
      pushes down to the scan
    * ``clamp_max(sqrt(avg_over_time(purchase[31d])), 2.5)`` —
      element-wise post-functions stay whole-stage-codegen JVM
      expressions on the aggregated frame
    * ``absent_over_time(nosuch[31d])`` / ``…(click[31d])`` (round 6)
      — the alerting absence probe: one constant row anti-joined
      against LIMIT 1 of the matched scan (short-circuits at the
      first sample; no count); the missing metric yields its row, the
      present one yields none
    * ``avg_over_time(view[10d] @ 1705795200)`` (round 7) — the
      absolute evaluation anchor; ``hour(timestamp(click))`` — a
      calendar function over the instant-vector timestamp; ``time()``
      — the evaluation clock as a constant vector."""
    from sensapp_spark.query.promql_ext import (
        evaluate_extended,
        parse_extended,
    )

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    now = dt.datetime(2024, 2, 1)
    cases = [
        ("quantile", "quantile_over_time(0.9, view[31d])"),
        ("avg_offset", "avg_over_time(purchase[10d] offset 11d)"),
        ("clamp_sqrt", "clamp_max(sqrt(avg_over_time(purchase[31d])), 2.5)"),
        # Round 7: the absolute @ anchor (1705795200 = 2024-01-21 UTC)
        # fixes the same window the oracle states literally; the
        # shifted range still pushes down to the scan.
        ("at_anchor", "avg_over_time(view[10d] @ 1705795200)"),
        # Round 7: calendar function over an instant-vector function —
        # the hour (UTC) of each click series' last sample. The @
        # anchor (2024-01-30 23:59 UTC) pins the 1-hour instant
        # lookback inside the data range (the testdata ends 2024-01-30
        # 23:57; an unanchored instant at `now`=2024-02-01 sees
        # nothing).
        ("date_hour", "hour(timestamp(click @ 1706659140))"),
        # Round 7: time() — the evaluation timestamp as a constant
        # 1-row vector (2024-02-01 UTC = 1706745600).
        ("time_const", "time()"),
        # Round 9: the last two range functions — mad_over_time
        # (median absolute deviation, Prometheus 3.x; DuckDB's mad()
        # is the same interpolated-median definition) and
        # holt_winters/double_exponential_smoothing (the
        # promql/functions.go funcHoltWinters recurrence as one JVM
        # `aggregate` fold; the oracle replays the identical left
        # fold with list_reduce). tf=0.25 is exactly representable,
        # so both folds are bit-identical before rounding.
        ("mad", "mad_over_time(view[31d])"),
        ("holt_winters", "holt_winters(click[31d], 0.5, 0.25)"),
    ]
    parts = [
        (
            tag,
            evaluate_extended(sensors, vals, parse_extended(expr, now=now))
            .select("sensor_id", F.round("value", 6).alias("value")),
        )
        for tag, expr in cases
    ]
    for tag, metric in (("absent_missing", "nosuch"),
                        ("absent_present", "click")):
        out = evaluate_extended(
            sensors, vals,
            parse_extended(f"absent_over_time({metric}[31d])", now=now),
        )
        parts.append(
            (
                tag,
                out.select(
                    F.lit(None).cast("string").alias("sensor_id"),
                    F.col("value"),
                ),
            )
        )
    return _union_tagged(parts, "func")


@register(
    "promql_ext_binary_ratio",
    _PRELUDE
    + """
    , rates AS (
        SELECT v.sensor_id, s.name, s.region_label,
               CASE WHEN s.region_label IS NULL
                    THEN 'user="' || s.user_label || '"'
                    ELSE 'region="' || s.region_label
                         || '",user="' || s.user_label || '"' END AS labels,
               (arg_max(v.value, v.time) - arg_min(v.value, v.time))
                 / ((epoch_us(MAX(v.time)) - epoch_us(MIN(v.time))) / 1e6)
                 AS value
        FROM vals v JOIN sensors s USING (sensor_id)
        WHERE v.time >= TIMESTAMP '2024-01-01'
          AND v.time <= TIMESTAMP '2024-02-01'
          AND s.name IN ('click', 'view', 'purchase')
        GROUP BY 1, 2, 3, 4
        HAVING epoch_us(MAX(v.time)) > epoch_us(MIN(v.time))),
    region_sum AS (
        SELECT COALESCE(region_label, '') AS rk, SUM(value) AS value
        FROM rates WHERE name = 'view' GROUP BY 1)
    SELECT 'ratio' AS scope, l.labels,
           ROUND(l.value / r.value, 6) + 0 AS value
    FROM (SELECT * FROM rates WHERE name = 'click') l
    JOIN (SELECT * FROM rates WHERE name = 'view') r USING (labels)
    UNION ALL
    SELECT 'group_left', m.labels, ROUND(m.value / g.value, 6) + 0
    FROM (SELECT * FROM rates WHERE name = 'click') m
    JOIN region_sum g ON COALESCE(m.region_label, '') = g.rk
    UNION ALL
    SELECT 'group_right', m.labels, ROUND(g.value * m.value, 6) + 0
    FROM (SELECT * FROM rates WHERE name = 'click') m
    JOIN region_sum g ON COALESCE(m.region_label, '') = g.rk
    UNION ALL
    SELECT 'scalar_div', m.labels,
           ROUND(m.value / (SELECT SUM(value) FROM rates
                            WHERE name = 'view'), 6) + 0
    FROM (SELECT * FROM rates WHERE name = 'click') m
    UNION ALL
    SELECT 'nested_gt', l.labels, ROUND(l.value / r.value, 6) + 0
    FROM (SELECT * FROM rates WHERE name = 'click') l
    JOIN (SELECT * FROM rates WHERE name = 'view') r USING (labels)
    WHERE l.value / r.value > 1
    UNION ALL
    SELECT 'global_ratio', '',
           ROUND((SELECT SUM(value) FROM rates WHERE name = 'click')
                 / ((SELECT SUM(value) FROM rates WHERE name = 'view')
                    + (SELECT SUM(value) FROM rates
                       WHERE name = 'purchase')), 6) + 0
    UNION ALL
    SELECT 'pct', l.labels,
           ROUND(l.value / (r.value + p.value) * 100, 6) + 0
    FROM (SELECT * FROM rates WHERE name = 'click') l
    JOIN (SELECT * FROM rates WHERE name = 'view') r USING (labels)
    JOIN (SELECT * FROM rates WHERE name = 'purchase') p USING (labels)
    """,
)
def promql_ext_binary_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: binary vector matching family as one tagged
    union —

    * ``ratio`` — one-to-one: ``rate(click[31d]) / rate(view[31d])``
      pairs each user's click series with their view series on the
      full label set (metric name excluded, Prometheus semantics);
    * ``group_left`` — MANY-TO-ONE: ``rate(click[31d]) / on (region)
      group_left sum by (region) (rate(view[31d]))`` joins every
      user's click rate against their region's single view-rate sum
      (absent region ⇒ empty-value match group, Prometheus);
    * ``group_right`` — the mirrored direction: ``sum by (region)
      (rate(view[31d])) * on (region) group_right rate(click[31d])``.

    * ``nested_gt`` / ``global_ratio`` (round 11) — ONE nested binary
      operand: the dashboard ratio threshold ``(a / b) > 1``
      (Prometheus filter semantics) and the global three-way ratio
      ``sum(a) / (sum(b) + sum(c))`` (ungrouped aggregates join on
      the empty label set).

    All operands are per-series (or per-group) aggregates, so every
    equality join is dimension-sized and AQE broadcasts the one side."""
    from sensapp_spark.query.promql_ext import (
        evaluate_binary,
        parse_extended_expr,
    )

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    now = dt.datetime(2024, 2, 1)
    cases = [
        ("ratio", "rate(click[31d]) / rate(view[31d])"),
        (
            "group_left",
            "rate(click[31d]) / on (region) group_left "
            "sum by (region) (rate(view[31d]))",
        ),
        (
            "group_right",
            "sum by (region) (rate(view[31d])) * on (region) "
            "group_right rate(click[31d])",
        ),
        # Round 7: scalar() as a binary operand — every click rate
        # divided by ONE number (the corpus-wide view-rate sum). The
        # reduction aggregates the series-sized view vector to one row
        # that broadcasts onto the click side.
        (
            "scalar_div",
            "rate(click[31d]) / scalar(sum(rate(view[31d])))",
        ),
        # Round 11: ONE nested binary operand — the dashboard ratio
        # threshold `(a / b) > 1` (filter semantics: the ratio value
        # survives) and the global three-way ratio
        # `sum(a) / (sum(b) + sum(c))` (global aggregates are
        # Prometheus' one-row empty-label vectors).
        ("nested_gt", "(rate(click[31d]) / rate(view[31d])) > 1"),
        (
            "global_ratio",
            "sum(rate(click[31d])) / (sum(rate(view[31d])) "
            "+ sum(rate(purchase[31d])))",
        ),
        # Round 12: TWO-level nesting — the dashboard percentage shape
        # (split at '*', then '/', then the parenthesized '+'): each
        # click rate as a percentage of that user's view + purchase
        # rates, joined one-to-one on the full label set.
        (
            "pct",
            "rate(click[31d]) / (rate(view[31d]) "
            "+ rate(purchase[31d])) * 100",
        ),
    ]
    from sensapp_spark.query.promql_ext import _labels_without

    cache = _operand_cache()
    parts = []
    for tag, expr in cases:
        out = evaluate_binary(
            sensors, vals, parse_extended_expr(expr, now=now), cache
        )
        if "labels" in out.columns and dict(out.dtypes)["labels"] != "string":
            # The vector∘scalar path keeps the series shape (labels
            # MAP); canonicalize to the same k="v" string the
            # one-to-one arms key on so the union is uniform.
            out = out.select(
                _labels_without([]).alias("labels"), "value"
            )
        parts.append(
            (
                tag,
                # + 0.0 canonicalizes IEEE -0.0 to 0.0 (a rounded
                # product can be negative zero, which %.6g renders as
                # "-0" on one engine and "0" on the other).
                out.select(
                    "labels",
                    (F.round("value", 6) + F.lit(0.0)).alias("value"),
                ),
            )
        )
    return _union_tagged(parts, "scope")


_GEO_DLAT = 2000.0 / 111.0  # within_radius' bbox half-height, degrees


@register(
    "geo_within_radius",
    _PRELUDE
    + f"""
    , pts AS (
        SELECT event_id,
               80 * sin(value) AS latitude,
               170 * sin(2 * value) AS longitude
        FROM vals)
    SELECT event_id,
           ROUND(2 * 6371.0 * asin(sqrt(
                 pow(sin(radians(0.0 - latitude) / 2), 2)
               + cos(radians(latitude)) * cos(radians(0.0))
               * pow(sin(radians(0.0 - longitude) / 2), 2))), 6)
               AS distance_km
    FROM pts
    WHERE latitude >= {-_GEO_DLAT!r} AND latitude <= {_GEO_DLAT!r}
      AND 2 * 6371.0 * asin(sqrt(
                 pow(sin(radians(0.0 - latitude) / 2), 2)
               + cos(radians(latitude)) * cos(radians(0.0))
               * pow(sin(radians(0.0 - longitude) / 2), 2))) <= 2000.0
    """,
)
def geo_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: Location-type spatial selection — points within
    2000 km of (0, 0) with exact haversine distance, behind a pushed-
    down bounding-box pre-filter (operators/geo.py). Points are derived
    deterministically from the events values (the testdata has no geo
    column); both engines compute the same derivation."""
    from sensapp_spark.operators.geo import within_radius

    vals = td.events_values(spark, sf_dir)
    pts = vals.select(
        "event_id",
        (F.lit(80.0) * F.sin("value")).alias("latitude"),
        (F.lit(170.0) * F.sin(F.col("value") * 2)).alias("longitude"),
    )
    out = within_radius(pts, 0.0, 0.0, 2000.0)
    return out.select(
        "event_id", F.round("distance_km", 6).alias("distance_km")
    )


@register(
    "value_histogram",
    _PRELUDE
    + """
    , hist AS (
        SELECT s.name, CAST(floor(v.value / 10) * 10 AS DOUBLE) AS bucket,
               COUNT(*) AS n
        FROM vals v JOIN sensors s USING (sensor_id)
        GROUP BY 1, 2),
    cum AS (
        SELECT *, SUM(n) OVER (PARTITION BY name ORDER BY bucket) AS c,
               SUM(n) OVER (PARTITION BY name) AS total
        FROM hist),
    ranked AS (
        SELECT cum.*, phi, phi * total AS rnk,
               row_number() OVER (
                   PARTITION BY name, phi ORDER BY bucket) AS rn
        FROM cum CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS phi)
        WHERE c >= phi * total)
    , click_cum AS (
        SELECT s.user_label AS u,
               COUNT(*) FILTER (WHERE v.value <= -0.5) AS c0,
               COUNT(*) FILTER (WHERE v.value <= 0.0) AS c1,
               COUNT(*) FILTER (WHERE v.value <= 0.5) AS c2,
               COUNT(*) AS c3
        FROM vals v JOIN sensors s USING (sensor_id)
        WHERE s.name = 'click'
        GROUP BY 1),
    click_buckets AS (
        SELECT u, -0.5 AS le, c0 AS cum FROM click_cum
        UNION ALL SELECT u, 0.0, c1 FROM click_cum
        UNION ALL SELECT u, 0.5, c2 FROM click_cum
        UNION ALL SELECT u, CAST('inf' AS DOUBLE), c3 FROM click_cum),
    hq AS (
        SELECT u, phi, le, cum,
               LAG(le) OVER (PARTITION BY u, phi ORDER BY le) AS ple,
               LAG(cum) OVER (PARTITION BY u, phi ORDER BY le) AS pcum,
               MAX(cum) OVER (PARTITION BY u, phi) AS total
        FROM click_buckets
        CROSS JOIN (SELECT unnest([0.5, 0.9]) AS phi)),
    hsel AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY u, phi ORDER BY le) AS hrn
        FROM hq WHERE cum >= phi * total)
    SELECT 'hist' AS scope, name, bucket, n, CAST(NULL AS DOUBLE) AS value
    FROM hist
    UNION ALL
    SELECT 'quantile', name, phi, CAST(total AS BIGINT),
           ROUND(bucket + 10.0 * (rnk - (c - n)) / n, 6)
    FROM ranked WHERE rn = 1
    UNION ALL
    SELECT 'prom_le', 'user="' || u || '"', phi, CAST(NULL AS BIGINT),
           ROUND(CASE
             WHEN isinf(le) THEN ple
             WHEN pcum IS NULL AND le <= 0 THEN le
             ELSE (CASE WHEN pcum IS NULL THEN 0 ELSE ple END)
                  + (le - CASE WHEN pcum IS NULL THEN 0 ELSE ple END)
                    * (phi * total - COALESCE(pcum, 0))
                    / (cum - COALESCE(pcum, 0))
           END, 6) + 0
    FROM hsel WHERE hrn = 1
    UNION ALL
    SELECT 'prom_frac', 'user="' || u || '"', 0.25, CAST(NULL AS BIGINT),
           ROUND((c1 + 0.5 * (c2 - c1) - c0) / c3, 6) + 0
    FROM click_cum
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference histogram family as one tagged union:

    * ``hist`` — fixed-width value-distribution histogram per metric
      (width 10). One groupBy with map-side partials — shuffle bytes ∝
      metrics × buckets, independent of sample count.
    * ``quantile`` — ``histogram_quantile``-style interpolated
      quantiles (φ ∈ {0.5, 0.9, 0.99}) computed FROM the histogram, the
      way Prometheus computes them from cumulative le-buckets: rank =
      φ·total, locate the first bucket whose cumulative count reaches
      it, interpolate linearly inside (q = lo + width·(rank - cumPrev)/
      n_bucket). Everything downstream of the histogram is keys×buckets
      -sized — the quantile costs no second pass over the samples,
      which is the whole point of histogram quantiles at scale.
    * ``prom_le`` — the Prometheus-NATIVE form: cumulative
      ``_bucket``-series keyed by the ``le`` label (built here per
      click user, thresholds {-0.5, 0, 0.5, +Inf}), quantiled through
      the real ``histogram_quantile(φ, click_bucket)`` promql_ext
      path (monotonicity repair + within-bucket interpolation + the
      +Inf/first-bucket edge rules of prometheus promql/quantile.go).
    """
    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    joined = vals.join(
        F.broadcast(sensors.select("sensor_id", "name")), "sensor_id"
    )
    bucket = (F.floor(F.col("value") / 10) * 10).cast("double")
    hist = joined.groupBy("name", bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )
    cache = _operand_cache()
    # The hist and quantile arms both consume this metrics×buckets
    # frame; a lazy localCheckpoint makes the sample scan + groupBy
    # run once instead of once per union branch (guide §2.4 — AQE
    # does not reuse canonically-equal exchanges across branches).
    hist = hist.localCheckpoint(eager=False)
    wcum = Window.partitionBy("name").orderBy("bucket")
    cum = hist.withColumn("c", F.sum("n").over(wcum)).withColumn(
        "total", F.sum("n").over(Window.partitionBy("name"))
    )
    phis = F.explode(
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    ).alias("phi")
    ranked = (
        cum.select("*", phis)
        .withColumn("rnk", F.col("phi") * F.col("total"))
        .filter(F.col("c") >= F.col("rnk"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("name", "phi").orderBy("bucket")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    quantile = ranked.select(
        F.lit("quantile").alias("scope"),
        "name",
        F.col("phi").alias("bucket"),
        F.col("total").alias("n"),
        F.round(
            F.col("bucket")
            + F.lit(10.0) * (F.col("rnk") - (F.col("c") - F.col("n")))
            / F.col("n"),
            6,
        ).alias("value"),
    )
    h = hist.select(
        F.lit("hist").alias("scope"), "name", "bucket", "n",
        F.lit(None).cast("double").alias("value"),
    )

    # prom_le arm: derive cumulative le-bucket SERIES (the wire shape a
    # Prometheus client exposes) from the click samples, then quantile
    # them through the real histogram_quantile evaluation path.
    from sensapp_spark.query.promql_ext import (
        evaluate_extended,
        parse_extended,
    )

    bsensors, bvals = _click_bucket_snapshots(
        sensors, vals, [(None, dt.datetime(2024, 1, 31, 23, 30))]
    )
    now = dt.datetime(2024, 2, 1)
    prom = [
        evaluate_extended(
            bsensors, bvals,
            parse_extended(f"histogram_quantile({phi}, click_bucket)",
                           now=now),
            cache,
        ).select(
            F.lit("prom_le").alias("scope"),
            F.col("labels").alias("name"),
            F.lit(phi).alias("bucket"),
            F.lit(None).cast("long").alias("n"),
            (F.round("value", 6) + F.lit(0.0)).alias("value"),
        )
        for phi in (0.5, 0.9)
    ]
    # prom_frac arm (round 7): histogram_fraction(-0.5, 0.25,
    # click_bucket) — the classic-bucket analogue of Prometheus'
    # native-histogram fraction estimator. The lower bound sits exactly
    # on the first bucket edge (cdf = c0) and the upper bound bisects
    # the (0, 0.5] bucket, so the oracle states the interpolation in
    # closed form: (c1 + 0.5·(c2−c1) − c0) / c3.
    frac = evaluate_extended(
        bsensors, bvals,
        parse_extended(
            "histogram_fraction(-0.5, 0.25, click_bucket)", now=now
        ),
        cache,
    ).select(
        F.lit("prom_frac").alias("scope"),
        F.col("labels").alias("name"),
        F.lit(0.25).alias("bucket"),
        F.lit(None).cast("long").alias("n"),
        (F.round("value", 6) + F.lit(0.0)).alias("value"),
    )
    return (
        h.unionByName(quantile)
        .unionByName(prom[0])
        .unionByName(prom[1])
        .unionByName(frac)
    )


def _click_bucket_snapshots(sensors, vals, snapshots):
    """Cumulative ``le``-bucket series per click user (thresholds
    {-0.5, 0, 0.5, +Inf}) — one bucket sample per snapshot time,
    counting the samples with ``time <= cutoff``. The wire shape a
    Prometheus client exposes, derived deterministically from events so
    the DuckDB oracle can rebuild it. Returns (bucket_sensors,
    bucket_values)."""
    user = F.element_at(F.col("labels"), F.lit("user"))
    click = vals.join(
        F.broadcast(
            sensors.filter(F.col("name") == "click")
            .select("sensor_id", "labels")
        ),
        "sensor_id",
    )
    parts = []
    for cutoff, sample_time in snapshots:
        src = click if cutoff is None else click.filter(
            F.col("time") <= F.lit(cutoff)
        )
        parts.append(
            src.groupBy(user.alias("user")).agg(
                F.count(F.when(F.col("value") <= -0.5, 1)).alias("c0"),
                F.count(F.when(F.col("value") <= 0.0, 1)).alias("c1"),
                F.count(F.when(F.col("value") <= 0.5, 1)).alias("c2"),
                F.count("*").alias("c3"),
            ).select(
                "*", F.lit(sample_time).cast("timestamp").alias("snap")
            )
        )
    per_user = parts[0]
    for p in parts[1:]:
        per_user = per_user.unionByName(p)
    stacked = per_user.select(
        "user",
        "snap",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(le).alias("le"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for le, c in (
                        ("-0.5", "c0"), ("0", "c1"),
                        ("0.5", "c2"), ("+Inf", "c3"),
                    )
                ]
            )
        ).alias("b"),
    )
    bucket_sid = F.concat_ws(
        "/", F.lit("click_bucket"), "user", F.col("b.le")
    ).alias("sensor_id")
    bsensors = stacked.select(
        bucket_sid,
        F.lit("click_bucket").alias("name"),
        F.lit("Float").alias("type"),
        F.lit(None).cast("string").alias("unit"),
        F.lit(None).cast("string").alias("unit_description"),
        F.create_map(
            F.lit("user"), F.col("user"), F.lit("le"), F.col("b.le")
        ).alias("labels"),
    ).dropDuplicates(["sensor_id"])
    bvals = stacked.select(
        bucket_sid,
        F.col("snap").alias("time"),
        F.col("b.v").alias("value"),
        F.lit(0).cast("long").alias("event_id"),
    )
    return bsensors, bvals


@register(
    "promql_ext_range_query",
    _PRELUDE
    + """
    , steps AS (SELECT unnest(generate_series(0, 20)) AS i),
    win AS (
        SELECT v.sensor_id, s.i,
               arg_max(v.value, v.time) - arg_min(v.value, v.time) AS rise,
               (epoch_us(MAX(v.time)) - epoch_us(MIN(v.time))) / 1e6 AS span
        FROM vals v
        JOIN steps s
          ON v.time <= TIMESTAMP '2024-01-05' + s.i * INTERVAL '1 day'
         AND v.time >= TIMESTAMP '2024-01-05' + s.i * INTERVAL '1 day'
                        - INTERVAL '2 days'
        WHERE v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'click')
        GROUP BY 1, 2
        HAVING epoch_us(MAX(v.time)) > epoch_us(MIN(v.time)))
    , winb AS (
        SELECT s.name,
               CASE WHEN s.region_label IS NULL
                    THEN 'user="' || s.user_label || '"'
                    ELSE 'region="' || s.region_label
                         || '",user="' || s.user_label || '"'
               END AS labels,
               st.i,
               arg_max(v.value, v.time) - arg_min(v.value, v.time)
                 AS rise,
               (epoch_us(MAX(v.time)) - epoch_us(MIN(v.time))) / 1e6
                 AS span
        FROM vals v
        JOIN sensors s USING (sensor_id)
        JOIN steps st
          ON v.time <= TIMESTAMP '2024-01-05' + st.i * INTERVAL '1 day'
         AND v.time >= TIMESTAMP '2024-01-05' + st.i * INTERVAL '1 day'
                        - INTERVAL '2 days'
        WHERE s.name IN ('click', 'view')
        GROUP BY 1, 2, 3
        HAVING epoch_us(MAX(v.time)) > epoch_us(MIN(v.time)))
    , sq_inner AS (
        SELECT v.sensor_id, s.j,
               TIMESTAMP '2024-01-05' + s.j * INTERVAL '2 days' AS tj,
               arg_max(v.value, v.time) - arg_min(v.value, v.time) AS rise,
               (epoch_us(MAX(v.time)) - epoch_us(MIN(v.time))) / 1e6 AS span
        FROM vals v
        JOIN (SELECT unnest(generate_series(0, 6)) AS j) s
          ON v.time <= TIMESTAMP '2024-01-05' + s.j * INTERVAL '2 days'
         AND v.time >= TIMESTAMP '2024-01-05' + s.j * INTERVAL '2 days'
                        - INTERVAL '2 days'
        WHERE v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'click')
        GROUP BY 1, 2
        HAVING epoch_us(MAX(v.time)) > epoch_us(MIN(v.time)))
    , rq_cum AS (
        SELECT p.snap, s.user_label AS u,
               COUNT(*) FILTER (WHERE v.value <= -0.5) AS c0,
               COUNT(*) FILTER (WHERE v.value <= 0.0) AS c1,
               COUNT(*) FILTER (WHERE v.value <= 0.5) AS c2,
               COUNT(*) AS c3
        FROM vals v
        JOIN sensors s USING (sensor_id)
        CROSS JOIN (SELECT unnest([TIMESTAMP '2024-01-15',
                                   TIMESTAMP '2024-01-30']) AS snap) p
        WHERE s.name = 'click' AND v.time <= p.snap
        GROUP BY 1, 2),
    rq_buckets AS (
        SELECT snap, u, -0.5 AS le, c0 AS cum FROM rq_cum
        UNION ALL SELECT snap, u, 0.0, c1 FROM rq_cum
        UNION ALL SELECT snap, u, 0.5, c2 FROM rq_cum
        UNION ALL SELECT snap, u, CAST('inf' AS DOUBLE), c3 FROM rq_cum),
    rq_hq AS (
        SELECT snap, u, le, cum,
               LAG(le) OVER (PARTITION BY snap, u ORDER BY le) AS ple,
               LAG(cum) OVER (PARTITION BY snap, u ORDER BY le) AS pcum,
               MAX(cum) OVER (PARTITION BY snap, u) AS total
        FROM rq_buckets),
    rq_sel AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY snap, u ORDER BY le) AS hrn
        FROM rq_hq WHERE cum >= 0.5 * total)
    SELECT 'rate' AS scope, sensor_id AS key,
           strftime(TIMESTAMP '2024-01-05' + i * INTERVAL '1 day',
                    '%Y-%m-%d %H:%M:%S') AS t,
           ROUND(rise / span, 6) + 0 AS value
    FROM win
    UNION ALL
    SELECT 'subquery', q.sensor_id,
           strftime(TIMESTAMP '2024-01-09' + o.i * INTERVAL '1 day',
                    '%Y-%m-%d %H:%M:%S'),
           ROUND(MAX(q.rise / q.span), 6) + 0
    FROM sq_inner q
    JOIN (SELECT unnest(generate_series(0, 8)) AS i) o
      ON q.tj <= TIMESTAMP '2024-01-09' + o.i * INTERVAL '1 day'
     AND q.tj >= TIMESTAMP '2024-01-09' + o.i * INTERVAL '1 day'
                  - INTERVAL '4 days'
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'hist', 'user="' || u || '"',
           strftime(snap + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S'),
           ROUND(CASE
             WHEN isinf(le) THEN ple
             WHEN pcum IS NULL AND le <= 0 THEN le
             ELSE (CASE WHEN pcum IS NULL THEN 0 ELSE ple END)
                  + (le - CASE WHEN pcum IS NULL THEN 0 ELSE ple END)
                    * (0.5 * total - COALESCE(pcum, 0))
                    / (cum - COALESCE(pcum, 0))
           END, 6) + 0
    FROM rq_sel WHERE hrn = 1
    UNION ALL
    SELECT 'binary', l.labels,
           strftime(TIMESTAMP '2024-01-05' + l.i * INTERVAL '1 day',
                    '%Y-%m-%d %H:%M:%S'),
           ROUND((l.rise / l.span) / (r.rise / r.span), 6) + 0
    FROM winb l JOIN winb r ON l.labels = r.labels AND l.i = r.i
    WHERE l.name = 'click' AND r.name = 'view'
    """,
)
def promql_ext_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: Prometheus range queries as one tagged union —

    * ``rate`` — ``rate(click[2d])`` at 21 daily steps over
      [2024-01-05, 2024-01-25]. Sliding windows become a bounded
      explode (ceil(range/step)=2 step indices per sample) feeding one
      (sensor, step)-keyed reduction; the oracle recomputes each window
      with an inequality join.
    * ``subquery`` (round 7) — ``max_over_time(rate(click[2d])[4d:2d])``
      at daily steps over [2024-01-09, 2024-01-17]: the inner rate is
      range-evaluated ONCE on the 2-day subquery grid, then each outer
      step maxes the inner samples in its trailing 4-day window — a
      second bounded explode over the dimension×inner-steps frame.
    * ``hist`` (round 7) — ``histogram_quantile(0.5, click_bucket)``
      range-evaluated over two cumulative bucket SNAPSHOTS (counts ≤
      2024-01-15 / ≤ 2024-01-30, sampled at those times): each step's
      1-hour instant lookback picks up exactly one snapshot, so the
      two steps quantile genuinely different CDFs — per-step windows
      verified end-to-end against the oracle's snapshot-parametrized
      interpolation.
    * ``binary`` (round 11) — ``rate(click[2d]) / rate(view[2d])``
      per step (the Grafana ratio panel): evaluate_range_binary joins
      the two per-step frames one-to-one on (labels, t); the oracle
      recomputes both windows per step and joins on the same
      canonical label string."""
    from sensapp_spark.query.promql_ext import (
        evaluate_range,
        evaluate_range_binary,
        parse_extended,
        parse_extended_expr,
    )

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    now = dt.datetime(2024, 2, 1)

    def shaped(df, key_col, plus_zero=False):
        value = F.round("value", 6)
        if plus_zero:
            value = value + F.lit(0.0)
        return df.select(
            F.col(key_col).alias("key"),
            F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("t"),
            value.alias("value"),
        )

    # NOTE (round 14): sharing rate(click[2d]) between this arm and the
    # binary arm via the range-path operand cache was MEASURED SLOWER
    # at sf0.1 (4-round interleaved A/B: med 5.64 → 7.18 s; the eager
    # Catalyst planning of each checkpointed range subtree costs more
    # than the one saved re-execution here) — so this entry stays on
    # the unshared path. The cache plumbing remains available to
    # callers whose range operands repeat more than once.
    rate = evaluate_range(
        sensors, vals, parse_extended("rate(click[2d])", now=now),
        start=dt.datetime(2024, 1, 5), end=dt.datetime(2024, 1, 25),
        step_seconds=86400,
    )
    subq = evaluate_range(
        sensors, vals,
        parse_extended("max_over_time(rate(click[2d])[4d:2d])", now=now),
        start=dt.datetime(2024, 1, 9), end=dt.datetime(2024, 1, 17),
        step_seconds=86400,
    )
    bsensors, bvals = _click_bucket_snapshots(
        sensors, vals,
        [
            (dt.datetime(2024, 1, 15), dt.datetime(2024, 1, 15)),
            (dt.datetime(2024, 1, 30), dt.datetime(2024, 1, 30)),
        ],
    )
    hist = evaluate_range(
        bsensors, bvals,
        parse_extended("histogram_quantile(0.5, click_bucket)", now=now),
        start=dt.datetime(2024, 1, 15, 0, 30),
        end=dt.datetime(2024, 1, 30, 0, 30),
        step_seconds=15 * 86400,
    )
    # ``binary`` (round 11): the Grafana ratio panel —
    # rate(click)/rate(view) evaluated PER STEP with one-to-one
    # matching on the full label set (evaluate_range_binary joins the
    # two per-step frames on (labels, t)); the oracle recomputes both
    # windows per step and joins on the same canonical label string.
    rbin = evaluate_range_binary(
        sensors, vals,
        parse_extended_expr("rate(click[2d]) / rate(view[2d])", now=now),
        start=dt.datetime(2024, 1, 5), end=dt.datetime(2024, 1, 25),
        step_seconds=86400, now=now,
    )
    return _union_tagged(
        [
            ("rate", shaped(rate, "sensor_id", plus_zero=True)),
            ("subquery", shaped(subq, "sensor_id", plus_zero=True)),
            ("hist", shaped(hist, "labels", plus_zero=True)),
            ("binary", shaped(rbin, "labels", plus_zero=True)),
        ],
        "scope",
    )


@register(
    "gapfill_1h",
    _PRELUDE
    + """
    , clicks AS (
        SELECT v.sensor_id, v.time, v.value
        FROM vals v JOIN sensors s USING (sensor_id)
        WHERE s.name = 'click'
          AND CAST(split_part(v.sensor_id, '/', 2) AS BIGINT) < 20),
    hourly AS (
        SELECT sensor_id, date_trunc('hour', time) AS bucket,
               ROUND(AVG(value), 6) AS value
        FROM clicks GROUP BY 1, 2),
    spans AS (
        SELECT sensor_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        FROM hourly GROUP BY 1),
    grid AS (
        SELECT sensor_id,
               unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM spans)
    SELECT g.sensor_id,
           strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           last_value(h.value IGNORE NULLS) OVER (
               PARTITION BY g.sensor_id ORDER BY g.bucket
               ROWS UNBOUNDED PRECEDING) AS value,
           h.value IS NULL AS gap_filled
    FROM grid g LEFT JOIN hourly h USING (sensor_id, bucket)
    """,
)
def gapfill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: hourly resampling with forward fill — dense
    per-sensor grid over the observed span, holes carry the last
    observation and a ``gap_filled`` flag. Runs on the *hourly
    aggregate*, so grid size is bounded by span/step per sensor
    regardless of raw sample rate."""
    from sensapp_spark.operators.timeseries import gapfill

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    clicks = (
        vals.join(F.broadcast(sensors.select("sensor_id", "name")), "sensor_id")
        .filter(
            (F.col("name") == "click")
            & (F.split("sensor_id", "/").getItem(1).cast("long") < 20)
        )
    )
    hourly = clicks.groupBy(
        "sensor_id", F.date_trunc("hour", "time").alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("value"))
    filled = gapfill(hourly, on=["sensor_id"], time_col="bucket")
    return filled.select(
        "sensor_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "value",
        "gap_filled",
    )


@register(
    "catalog_metrics_rollup",
    _PRELUDE
    + """
    , hset AS (
        SELECT DISTINCT split_part(sensor_id, '/', 1) AS name,
               CAST(CONCAT('0x', SUBSTR(md5(sensor_id), 1, 15))
                    AS UBIGINT) AS h
        FROM vals),
    kmv AS (
        SELECT name, h,
               row_number() OVER (PARTITION BY name ORDER BY h) AS rn
        FROM hset),
    cnt0 AS (
        SELECT 0 AS row,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms0|', sensor_id)),
                    1, 15)) AS UBIGINT) % 8192 AS bucket,
               COUNT(*) AS cnt
        FROM vals GROUP BY 2),
    cnt1 AS (
        SELECT 1 AS row,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms1|', sensor_id)),
                    1, 15)) AS UBIGINT) % 8192 AS bucket,
               COUNT(*) AS cnt
        FROM vals GROUP BY 2),
    counters AS (SELECT * FROM cnt0 UNION ALL SELECT * FROM cnt1),
    tvals AS (
        SELECT sensor_id FROM vals
        WHERE event_id % 40 = 0
          AND (value IS NULL OR isfinite(value))),
    tcnt0 AS (
        SELECT 0 AS row,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms0|', sensor_id)),
                    1, 15)) AS UBIGINT) % 8192 AS bucket,
               COUNT(*) AS cnt
        FROM tvals GROUP BY 2),
    tcnt1 AS (
        SELECT 1 AS row,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms1|', sensor_id)),
                    1, 15)) AS UBIGINT) % 8192 AS bucket,
               COUNT(*) AS cnt
        FROM tvals GROUP BY 2),
    tcounters AS (SELECT * FROM tcnt0 UNION ALL SELECT * FROM tcnt1),
    pr AS (
        SELECT sensor_id, 0 AS row,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms0|', sensor_id)),
                    1, 15)) AS UBIGINT) % 8192 AS bucket
        FROM sensors
        UNION ALL
        SELECT sensor_id, 1,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms1|', sensor_id)),
                    1, 15)) AS UBIGINT) % 8192
        FROM sensors)
    SELECT 'rollup_series' AS op, name AS key_a, type AS key_b,
           CAST(COUNT(DISTINCT sensor_id) AS DOUBLE) AS value
    FROM sensors GROUP BY ROLLUP (name, type)
    UNION ALL
    SELECT 'rollup_rows', name, type, CAST(COUNT(*) AS DOUBLE)
    FROM sensors GROUP BY ROLLUP (name, type)
    UNION ALL
    SELECT 'kmv_series', name, NULL,
           ROUND(CASE WHEN COUNT(*) < 256
                      THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE (255.0 * 1152921504606846976.0) / MAX(h)
                 END, 6)
    FROM kmv WHERE rn <= 256 GROUP BY name
    UNION ALL
    SELECT 'cms_rows', p.sensor_id, NULL,
           CAST(MIN(COALESCE(c.cnt, 0)) AS DOUBLE)
    FROM pr p LEFT JOIN counters c USING (row, bucket)
    GROUP BY p.sensor_id
    UNION ALL
    SELECT 'cms_sidecar', p.sensor_id, NULL,
           CAST(MIN(COALESCE(c.cnt, 0)) AS DOUBLE)
    FROM pr p LEFT JOIN tcounters c USING (row, bucket)
    GROUP BY p.sensor_id
    UNION ALL
    SELECT 'kmv_sidecar', NULL, NULL,
           ROUND(CASE WHEN COUNT(*) < 256
                      THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE (255.0 * 1152921504606846976.0) / MAX(h)
                 END, 6)
    FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (
            SELECT DISTINCT
                   CAST(CONCAT('0x', SUBSTR(md5(sensor_id), 1, 15))
                        AS UBIGINT) AS h
            FROM vals
            WHERE event_id % 40 = 0
              AND (value IS NULL OR isfinite(value))
        )
    ) WHERE rn <= 256
    UNION ALL
    SELECT 'kmv_cagg', CAST(bkt AS VARCHAR), NULL,
           ROUND(CASE WHEN COUNT(*) < 256
                      THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE (255.0 * 1152921504606846976.0) / MAX(h)
                 END, 6)
    FROM (
        SELECT bkt, h, row_number() OVER (PARTITION BY bkt ORDER BY h)
               AS rn
        FROM (
            SELECT DISTINCT date_trunc('hour', time) AS bkt,
                   CAST(CONCAT('0x', SUBSTR(md5(sensor_id), 1, 15))
                        AS UBIGINT) AS h
            FROM vals
            WHERE event_id % 40 = 0
              AND (value IS NULL OR isfinite(value))
        )
    ) WHERE rn <= 256 GROUP BY bkt
    UNION ALL
    SELECT 'cms_cagg', CAST(p.bkt AS VARCHAR), p.sensor_id,
           CAST(MIN(COALESCE(c.cnt, 0)) AS DOUBLE)
    FROM (
        SELECT bkt, sensor_id, 0 AS row,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms0|', sensor_id)),
                    1, 15)) AS UBIGINT) % 512 AS bucket
        FROM (SELECT DISTINCT date_trunc('hour', time) AS bkt, sensor_id
              FROM vals WHERE event_id % 40 = 0
                AND (value IS NULL OR isfinite(value)))
        UNION ALL
        SELECT bkt, sensor_id, 1,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms1|', sensor_id)),
                    1, 15)) AS UBIGINT) % 512
        FROM (SELECT DISTINCT date_trunc('hour', time) AS bkt, sensor_id
              FROM vals WHERE event_id % 40 = 0
                AND (value IS NULL OR isfinite(value)))
    ) p LEFT JOIN (
        SELECT date_trunc('hour', time) AS bkt, 0 AS row,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms0|', sensor_id)),
                    1, 15)) AS UBIGINT) % 512 AS bucket,
               COUNT(*) AS cnt
        FROM vals WHERE event_id % 40 = 0
          AND (value IS NULL OR isfinite(value))
        GROUP BY 1, 3
        UNION ALL
        SELECT date_trunc('hour', time), 1,
               CAST(CONCAT('0x', SUBSTR(md5(CONCAT('cms1|', sensor_id)),
                    1, 15)) AS UBIGINT) % 512,
               COUNT(*)
        FROM vals WHERE event_id % 40 = 0
          AND (value IS NULL OR isfinite(value))
        GROUP BY 1, 3
    ) c ON p.bkt = c.bkt AND p.row = c.row AND p.bucket = c.bucket
    GROUP BY p.bkt, p.sensor_id
    """,
)
def catalog_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference catalog/statistics family — tagged union:

    * ``rollup_series`` / ``rollup_rows``: grouping-sets catalog
      aggregate — per-(metric, type) counts plus per-metric and
      grand-total rows in one pass (Spark ``rollup`` ≡ SQL GROUP BY
      ROLLUP). The reference's catalog can only produce the flat
      per-metric view (C1).
    * ``kmv_series`` (round 8): k-minimum-values distinct-series
      estimate per metric over the SAMPLES table
      (operators/sketches.py) — the oracle replays the estimator
      bit-identically via the portable md5-prefix hash, so the
      driver's value-hash gate covers the sketch math, which Spark's
      own approx_count_distinct (HLL++) never allows.
    * ``cms_rows`` (round 8): count-min row-count estimate for every
      catalog sensor from a d×w=2×8192-counter summary — the per-key
      frequency a driver can hold for a table it cannot groupBy.
    * ``kmv_sidecar`` (round 9): the PERSISTED sketch path — a real
      SensorLake is written (40×-thinned values — bounded in round 12 so the entry measures the queries, not the in-entry maintenance build; same hash coverage)
      and the distinct-series estimate is folded from the per-file KMV
      sketches in the zone-map sidecar (``storage/zonemap.py``),
      touching ZERO data files at query time; the oracle replays the
      identical estimator over the same rows, proving fold == scan.
    * ``cms_sidecar`` (round 9): per-sensor row-count estimates folded
      from the SAME lake's sparse per-file count-min counters —
      counter addition is lossless, so the sidecar fold is bit-equal
      to a scan-built sketch over the thinned rows (the oracle builds
      exactly that); every catalog sensor is probed.
    * ``kmv_cagg`` / ``cms_cagg`` (round 11): the CONTINUOUS sketch
      rollup (storage/rollup.py SketchRollupStore) — per-hour
      distinct-series KMV estimates and per-(hour, sensor)
      heavy-hitter CMS probes served from a table MAINTAINED in two
      incremental refresh ticks off the changes feed, pinned against
      the oracle replaying both estimators from the raw thinned rows.
      This is metrics_summary's COUNT(DISTINCT sensor_id) dashboard
      shape answered without a re-scan.

    Sketch math hand-checkable: estimates are ≥-true-count (CMS) /
    unbiased around truth (KMV), and at testdata scale collisions are
    rare so most estimates equal the exact values the rollup arms
    produce."""
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        kmv_distinct,
    )
    from sensapp_spark.storage.lake import SensorLake

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)

    rolled = sensors.rollup("name", "type").agg(
        F.countDistinct("sensor_id").alias("series_count"),
        F.count("*").alias("sensor_rows"),
    )
    r_series = rolled.select(
        F.lit("rollup_series").alias("op"),
        F.col("name").alias("key_a"),
        F.col("type").alias("key_b"),
        F.col("series_count").cast("double").alias("value"),
    )
    r_rows = rolled.select(
        F.lit("rollup_rows").alias("op"),
        F.col("name").alias("key_a"),
        F.col("type").alias("key_b"),
        F.col("sensor_rows").cast("double").alias("value"),
    )
    named = vals.withColumn(
        "name", F.substring_index("sensor_id", "/", 1)
    )
    kmv = kmv_distinct(named, key="sensor_id", by="name").select(
        F.lit("kmv_series").alias("op"),
        F.col("name").alias("key_a"),
        F.lit(None).cast("string").alias("key_b"),
        F.col("estimate").alias("value"),
    )
    cms = cms_estimate(
        cms_build(vals, key="sensor_id"),
        sensors.select("sensor_id"),
        key="sensor_id",
    ).select(
        F.lit("cms_rows").alias("op"),
        F.col("sensor_id").alias("key_a"),
        F.lit(None).cast("string").alias("key_b"),
        F.col("estimate").alias("value"),
    )
    # kmv_sidecar: write a thinned lake, fold the PERSISTED per-file
    # sketches — query-time IO is the sidecar JSON only. append_values
    # drops non-finite floats, which the oracle replays (isfinite).
    # Written in TWO halves with a SketchRollupStore refresh between
    # (round 11) so the continuous-sketch arms below cover the
    # incremental maintenance path, not just a fresh build.
    from sensapp_spark.storage.rollup import SketchRollupStore

    lake = SensorLake(spark, _entry_lake_dir("kmv_lake", sf_dir))
    thin = vals.filter(F.col("event_id") % 40 == 0)
    sk_store = SketchRollupStore(lake, grain_s=3600)
    lake.append_values(
        SensorType.FLOAT,
        thin.filter(F.col("event_id") % 80 == 0)
        .drop("event_id").coalesce(4),
    )
    sk_store.refresh(SensorType.FLOAT)
    lake.append_values(
        SensorType.FLOAT,
        thin.filter(F.col("event_id") % 80 != 0)
        .drop("event_id").coalesce(4),
    )
    sk_store.refresh(SensorType.FLOAT)
    # The sidecar folds return None when coverage is incomplete (the
    # zone-map refresh is best-effort); honor that contract with the
    # documented fallback — the scan-based estimators, which compute
    # the IDENTICAL values (fold == scan is the sidecar's invariant),
    # so the oracle comparison is unaffected either way (round-9
    # review: float(None) crashed the whole family instead).
    est = lake.sketch_distinct_series(SensorType.FLOAT)
    if est is None:
        (row,) = kmv_distinct(
            lake.values(SensorType.FLOAT), key="sensor_id"
        ).collect()
        est = row.estimate
    # cms_sidecar: fold the SAME lake's sparse per-file count-min
    # counters and probe every catalog sensor's row count — counter
    # addition is lossless, so the fold equals a scan-built sketch
    # over the thinned rows exactly (which is what the oracle builds).
    ids = [r.sensor_id for r in sensors.select("sensor_id").collect()]
    probed = lake.sketch_series_rows(SensorType.FLOAT, ids)
    if probed is None:
        scan = {
            r.sensor_id: int(r.estimate)
            for r in cms_estimate(
                cms_build(lake.values(SensorType.FLOAT), key="sensor_id"),
                sensors.select("sensor_id"),
                key="sensor_id",
            ).collect()
        }
        probed = {s: scan.get(s, 0) for s in ids}
    sidecar = spark.createDataFrame(
        [("kmv_sidecar", None, None, float(est))]
        + [("cms_sidecar", s, None, float(n)) for s, n in probed.items()],
        "op string, key_a string, key_b string, value double",
    )
    # kmv_cagg / cms_cagg (round 11): the CONTINUOUS sketch rollup —
    # per-hour distinct-series KMV and heavy-hitter CMS maintained by
    # the two refresh ticks above (storage/rollup.py
    # SketchRollupStore). This is metrics_summary's
    # COUNT(DISTINCT sensor_id) per bucket
    # (/root/reference/src/storage/sqlite/migrations/20250819144000_add_metrics_summary_view.sql:3-16)
    # answered from a maintained table instead of a raw re-scan; the
    # oracle replays both estimators bit-identically from the thinned
    # rows via the portable md5-prefix hash.
    sk_rows = sk_store.read(SensorType.FLOAT)
    bucket_str = F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
    kmv_cagg = sk_store.distinct_estimates(sk_rows).select(
        F.lit("kmv_cagg").alias("op"),
        bucket_str.alias("key_a"),
        F.lit(None).cast("string").alias("key_b"),
        F.col("distinct_series").alias("value"),
    )
    # Probe exactly the (bucket, sensor) pairs active in the lake —
    # the "who was heavy in the hours they were active" shape.
    pairs = lake.values(SensorType.FLOAT).select(
        F.date_trunc("hour", "time").alias("bucket"), "sensor_id"
    ).distinct()
    cms_cagg = sk_store.heavy_hitters(sk_rows, pairs).select(
        F.lit("cms_cagg").alias("op"),
        bucket_str.alias("key_a"),
        F.col("sensor_id").alias("key_b"),
        F.col("rows_estimate").alias("value"),
    )
    return (
        r_series.unionByName(r_rows)
        .unionByName(kmv)
        .unionByName(cms)
        .unionByName(sidecar)
        .unionByName(kmv_cagg)
        .unionByName(cms_cagg)
    )


@register(
    "event_context_join",
    """
    WITH click AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS time,
               value AS click_value
        FROM events WHERE event_type = 'click'),
    v AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS time, MAX(value) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    viewsraw AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS time
        FROM events WHERE event_type = 'view'),
    aligned AS (
        SELECT c.event_id, c.user_id, c.time, c.click_value,
               v.time AS time_right, v.view_value AS view_value_right
        FROM click c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND c.time >= v.time),
    counts AS (
        SELECT c.event_id, COUNT(v.time) AS n_views_5m
        FROM click c LEFT JOIN viewsraw v
          ON v.user_id = c.user_id
         AND v.time > c.time - INTERVAL 300 SECOND
         AND v.time <= c.time
        GROUP BY c.event_id)
    SELECT a.event_id, a.user_id, a.time, a.click_value,
           a.time_right, a.view_value_right, c.n_views_5m
    FROM aligned a JOIN counts c USING (event_id)
    """,
)
def event_context_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: temporal context enrichment — each click gains
    (a) the user's most recent view sample at or before it via the
    backward as-of join (single-shuffle union + forward-fill window, no
    join node) and (b) the count of views in the trailing 5 minutes via
    the interval join (equi-join on user with the range as a conjunct;
    pair blowup bounded by events-per-user-per-interval). The oracle
    uses DuckDB's native ASOF LEFT JOIN — an independent formulation.
    The as-of right side is reduced to one row per (user, timestamp)
    first so duplicate-timestamp winners are well-defined in both
    engines."""
    from sensapp_spark.operators.timeseries import asof_join, interval_count

    ev = td.load_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.col("ts").alias("time"),
        F.col("value").alias("click_value"),
    )
    right = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("time"), "value")
        .groupBy("user_id", "time")
        .agg(F.max("value").alias("view_value"))
    )
    aligned = asof_join(
        left, right, on=["user_id"], time_col="time",
        value_cols=["view_value"],
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("time")
    )
    counts = interval_count(
        left.select("user_id", "event_id", "time"), views,
        on=["user_id"], lookback_seconds=300, count_alias="n_views_5m",
    ).select("event_id", "n_views_5m")
    return aligned.select(
        "event_id", "user_id", "time", "click_value",
        "time_right", "view_value_right",
    ).join(counts, "event_id")


@register(
    "events_sessionize",
    """
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS time, event_id FROM events),
    flagged AS (
        SELECT user_id, time, event_id,
               CASE WHEN lag(time) OVER w IS NULL
                         OR epoch(time) - epoch(lag(time) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY time))
    SELECT user_id, time, event_id,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY time
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
    FROM flagged
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: gap-based sessionization (30-min inactivity)
    per user over the full event stream. Timestamp ties are safe without
    a tiebreaker: tied rows have gap 0, so every row of a tie group lands
    in the same session whichever order the engines scan them."""
    from sensapp_spark.operators.timeseries import sessionize

    ev = td.load_events(spark, sf_dir).select(
        "user_id", F.col("ts").alias("time"), "event_id"
    )
    return sessionize(ev, on=["user_id"], gap_seconds=1800)


# ---------------------------------------------------------------------------
# Extended-PromQL round 3: instantaneous/derivative functions, set
# operations, comparison filters
# ---------------------------------------------------------------------------

_W31 = """v.time >= TIMESTAMP '2024-01-01'
          AND v.time <= TIMESTAMP '2024-02-01'"""


def _ext(spark, sf_dir, expr, now=dt.datetime(2024, 2, 1), cache=None):
    from sensapp_spark.query.promql_ext import evaluate_extended, parse_extended

    return evaluate_extended(
        td.events_sensors(spark, sf_dir),
        td.events_values(spark, sf_dir),
        parse_extended(expr, now=now),
        cache,
    )


def _ext_bin(spark, sf_dir, expr, now=dt.datetime(2024, 2, 1), cache=None):
    from sensapp_spark.query.promql_ext import (
        evaluate_binary,
        parse_extended_expr,
    )

    return evaluate_binary(
        td.events_sensors(spark, sf_dir),
        td.events_values(spark, sf_dir),
        parse_extended_expr(expr, now=now),
        cache,
    )


# Pinned evaluation time (2024-02-01) and window start (2024-01-01) in
# epoch seconds; regression x is centered on the window start.
_EVAL_S = 1706745600
_START_S = 1704067200


@register(
    "promql_ext_range_funcs",
    _PRELUDE
    + f"""
    , ranked AS (
        SELECT v.sensor_id, v.time, v.value,
               row_number() OVER (PARTITION BY v.sensor_id
                                  ORDER BY v.time DESC, v.value DESC) AS rn
        FROM vals v
        WHERE {_W31}
          AND v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'click')),
    lagged AS (
        SELECT v.sensor_id,
               CASE WHEN lag(v.value) OVER w IS NOT NULL
                         AND v.value <> lag(v.value) OVER w
                    THEN 1 ELSE 0 END AS f
        FROM vals v
        WHERE {_W31}
          AND v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'view')
        WINDOW w AS (PARTITION BY v.sensor_id
                     ORDER BY v.time, v.value))
    SELECT 'irate' AS func, sensor_id,
           ROUND(CASE WHEN arg_min(value, rn) < arg_max(value, rn)
                      THEN arg_min(value, rn)
                      ELSE arg_min(value, rn) - arg_max(value, rn) END
                 / ((epoch_us(MAX(time)) - epoch_us(MIN(time))) / 1e6),
                 6) AS value
    FROM ranked WHERE rn <= 2
    GROUP BY sensor_id
    HAVING epoch_us(MAX(time)) > epoch_us(MIN(time))
    UNION ALL
    SELECT 'changes', sensor_id, CAST(SUM(f) AS DOUBLE)
    FROM lagged GROUP BY sensor_id
    UNION ALL
    SELECT 'deriv', v.sensor_id,
           ROUND(regr_slope(v.value,
                 (epoch_us(v.time)
                  - epoch_us(TIMESTAMP '2024-01-01')) / 1e6), 6) + 0.0
    FROM vals v
    WHERE {_W31}
      AND v.sensor_id IN (SELECT sensor_id FROM sensors
                          WHERE name = 'purchase')
    GROUP BY v.sensor_id
    HAVING var_pop(epoch_us(v.time) / 1e6) > 0
    UNION ALL
    SELECT 'predict_linear', v.sensor_id,
           ROUND(AVG(v.value)
                 + regr_slope(v.value,
                       (epoch_us(v.time) - {_START_S}::BIGINT * 1000000) / 1e6)
                   * ({_EVAL_S} - {_START_S} + 86400
                      - AVG((epoch_us(v.time)
                             - {_START_S}::BIGINT * 1000000) / 1e6)),
                 6)
    FROM vals v
    WHERE {_W31}
      AND v.sensor_id IN (SELECT sensor_id FROM sensors
                          WHERE name = 'purchase')
    GROUP BY v.sensor_id
    HAVING var_pop(epoch_us(v.time) / 1e6) > 0
    UNION ALL
    SELECT 'timestamp', v.sensor_id,
           ROUND(epoch_us(MAX(v.time)) / 1e6, 6)
    FROM vals v
    WHERE {_W31}
      AND v.sensor_id IN (SELECT sensor_id FROM sensors
                          WHERE name = 'click')
    GROUP BY v.sensor_id
    UNION ALL
    SELECT 'subquery', sensor_id, ROUND(MAX(value), 6)
    FROM (
        SELECT v.sensor_id, s.i,
               (arg_max(v.value, v.time) - arg_min(v.value, v.time))
                 / ((epoch_us(MAX(v.time)) - epoch_us(MIN(v.time))) / 1e6)
                 AS value
        FROM vals v
        JOIN (SELECT unnest(generate_series(0, 20)) AS i) s
          ON v.time <= TIMESTAMP '2024-01-05' + s.i * INTERVAL '1 day'
         AND v.time >= TIMESTAMP '2024-01-05' + s.i * INTERVAL '1 day'
                        - INTERVAL '2 days'
        WHERE v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'click')
        GROUP BY 1, 2
        HAVING epoch_us(MAX(v.time)) > epoch_us(MIN(v.time)))
    GROUP BY sensor_id
    """,
)
def promql_ext_range_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: the per-series range-function family as one
    tagged union —

    * ``irate(click[31d])`` — instantaneous rate from the last two
      samples with Prometheus counter-reset handling (last < prev ⇒
      rise = last); the per-series top-2 plans as WindowGroupLimit, so
      the exchange carries ≤2 rows per (series, input partition)
    * ``changes(view[31d])`` — consecutive-pair changes; one lag window
      + sum sharing a single exchange
    * ``deriv(purchase[31d])`` — least-squares slope (covar_pop/var_pop
      JVM aggregates; x centered on the window start for cross-engine
      float stability; ``+ 0.0`` canonicalizes IEEE negative zero)
    * ``predict_linear(purchase[31d], 86400)`` — the regression line
      extrapolated one day past the evaluation time
    * ``timestamp(click[31d])`` — last sample time in seconds
    * ``max_over_time(rate(click[2d])[20d:1d])`` — a SUBQUERY
      (round 6): the inner rate evaluates at 21 daily steps through
      the range-query machinery (one bounded sample explode + one
      (series, step) reduction — no per-step jobs), then the outer
      max folds each series' step samples; the outer shuffle is
      series × steps, dimension-sized."""
    cases = [
        ("irate", "irate(click[31d])", "round"),
        ("changes", "changes(view[31d])", "raw"),
        ("deriv", "deriv(purchase[31d])", "round_negzero"),
        ("predict_linear", "predict_linear(purchase[31d], 86400)", "round"),
        ("timestamp", "timestamp(click[31d])", "round"),
    ]
    parts = []
    for tag, expr, post in cases:
        out = _ext(spark, sf_dir, expr)
        if post == "round":
            value = F.round("value", 6)
        elif post == "round_negzero":
            value = F.round("value", 6) + F.lit(0.0)
        else:
            value = F.col("value")
        parts.append((tag, out.select("sensor_id", value.alias("value"))))
    sq = _ext(
        spark, sf_dir,
        "max_over_time(rate(click[2d])[20d:1d])",
        now=dt.datetime(2024, 1, 25),
    )
    parts.append(
        ("subquery", sq.select("sensor_id", F.round("value", 6).alias("value")))
    )
    return _union_tagged(parts, "func")


@register(
    "promql_ext_set_ops",
    _PRELUDE
    + f"""
    , cl AS (
        SELECT v.sensor_id, s.user_label,
               arg_max(v.value, v.time) AS value
        FROM vals v JOIN sensors s USING (sensor_id)
        WHERE s.name = 'click' AND {_W31}
        GROUP BY 1, 2),
    vw AS (
        SELECT DISTINCT s.user_label
        FROM vals v JOIN sensors s USING (sensor_id)
        WHERE s.name = 'view' AND s.region_label = 'r1' AND {_W31})
    SELECT 'and' AS op, cl.sensor_id, ROUND(cl.value, 6) AS value
    FROM cl JOIN vw USING (user_label)
    UNION ALL
    SELECT 'unless', cl.sensor_id, ROUND(cl.value, 6)
    FROM cl WHERE user_label NOT IN (SELECT user_label FROM vw)
    UNION ALL
    SELECT 'or', v.sensor_id, ROUND(arg_max(v.value, v.time), 6)
    FROM vals v JOIN sensors s USING (sensor_id)
    WHERE s.name = 'click' AND s.region_label IN ('r1', 'r2')
      AND {_W31}
    GROUP BY v.sensor_id
    """,
)
def promql_ext_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: the PromQL set-operation family as one tagged
    union — ``and on(user)`` (dimension-sized left-semi join),
    ``unless on(user)`` (left-anti), and ``or`` (union where the right
    side contributes only absent matching keys)."""
    cases = [
        (
            "and",
            'last_over_time(click[31d]) and on(user) '
            'last_over_time(view{region="r1"}[31d])',
        ),
        (
            "unless",
            'last_over_time(click[31d]) unless on(user) '
            'last_over_time(view{region="r1"}[31d])',
        ),
        (
            "or",
            'last_over_time(click{region="r1"}[31d]) or '
            'last_over_time(click{region="r2"}[31d])',
        ),
    ]
    cache = _operand_cache()
    parts = [
        (
            tag,
            _ext_bin(spark, sf_dir, expr, cache=cache).select(
                "sensor_id", F.round("value", 6).alias("value")
            ),
        )
        for tag, expr in cases
    ]
    return _union_tagged(parts, "op")


@register(
    "promql_ext_compare",
    _PRELUDE
    + f"""
    SELECT 'gt_bool' AS op, v.sensor_id,
           CASE WHEN AVG(v.value) > 50 THEN 1.0 ELSE 0.0 END AS value
    FROM vals v
    WHERE {_W31}
      AND v.sensor_id IN (SELECT sensor_id FROM sensors
                          WHERE name = 'purchase')
    GROUP BY v.sensor_id
    UNION ALL
    SELECT 'filter_gt', v.sensor_id, ROUND(AVG(v.value), 6)
    FROM vals v
    WHERE {_W31}
      AND v.sensor_id IN (SELECT sensor_id FROM sensors
                          WHERE name = 'purchase')
    GROUP BY v.sensor_id
    HAVING AVG(v.value) > 50
    """,
)
def promql_ext_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: PromQL comparisons as one tagged union —
    ``avg_over_time(purchase[31d]) > bool 50`` (keep all series, 0/1
    value) and ``… > 50`` (Prometheus default: filter, values
    unchanged)."""
    cache = _operand_cache()
    gt_bool = _ext_bin(
        spark, sf_dir, "avg_over_time(purchase[31d]) > bool 50", cache=cache
    ).select("sensor_id", "value")
    filter_gt = _ext_bin(
        spark, sf_dir, "avg_over_time(purchase[31d]) > 50", cache=cache
    ).select("sensor_id", F.round("value", 6).alias("value"))
    return _union_tagged(
        [("gt_bool", gt_bool), ("filter_gt", filter_gt)], "op"
    )


# ---------------------------------------------------------------------------
# Beyond-reference: visualization downsampling, rolling windows,
# anomaly detection, trailing-interval joins, cross-series correlation
# ---------------------------------------------------------------------------

@register(
    "downsample_m4",
    _PRELUDE
    + """
    , err AS (
        SELECT v.* FROM vals v
        WHERE v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'error')),
    lt_base AS (
        SELECT sensor_id, date_trunc('day', time) AS bucket,
               time AS t, value AS v, epoch_us(time) AS t_us,
               CAST(ROUND(value * 1000000) AS BIGINT) AS mv
        FROM err),
    lt_agg AS (
        SELECT sensor_id, bucket, COUNT(*) AS n,
               CAST(SUM(t_us) AS DOUBLE) / COUNT(*) AS at,
               CAST(SUM(mv) AS DOUBLE) / (COUNT(*) * 1000000.0) AS av
        FROM lt_base GROUP BY 1, 2),
    lt_nb AS (
        SELECT *, lag(at) OVER w AS pat, lag(av) OVER w AS pav,
               lead(at) OVER w AS nat, lead(av) OVER w AS nav
        FROM lt_agg WINDOW w AS (PARTITION BY sensor_id ORDER BY bucket)),
    lt_sel AS (
        SELECT *, row_number() OVER (
            PARTITION BY sensor_id, bucket
            ORDER BY CASE
                WHEN pat IS NULL THEN CAST(t_us AS DOUBLE)
                WHEN nat IS NULL THEN -CAST(t_us AS DOUBLE)
                ELSE -abs((pat - nat) * (v - pav)
                          - (pat - t_us) * (nav - pav)) END ASC,
                t_us ASC, mv ASC) AS rn
        FROM lt_base JOIN lt_nb USING (sensor_id, bucket))
    SELECT 'm4' AS scope, v.sensor_id, date_trunc('day', v.time) AS bucket,
           COUNT(*) AS n,
           MIN(v.value) AS v_min, MAX(v.value) AS v_max,
           arg_min(v.value, epoch_us(v.time)::HUGEINT * 18446744073709551616
                            + v.event_id) AS v_first,
           arg_max(v.value, epoch_us(v.time)::HUGEINT * 18446744073709551616
                            + v.event_id) AS v_last,
           MIN(v.time) AS t_first, MAX(v.time) AS t_last
    FROM err v
    GROUP BY 2, 3
    UNION ALL
    SELECT 'lttb', sensor_id, bucket, n, v, v, v, v, t, t
    FROM lt_sel WHERE rn = 1
    """,
)
def downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference visualization downsampling as one tagged union:

    * ``m4`` — min/max/first/last per pixel bucket (Jugel et al.
      PVLDB'14). Shuffle bytes ∝ series × buckets, independent of
      sample rate. The oracle linearizes the (time, event_id) ordering
      as epoch_us·2^64 + event_id — 2^64 exceeds the full BIGINT span,
      so the encoding is collision-free for any event_id and matches
      Spark's struct(time, event_id) ordering.
    * ``lttb`` — largest-triangle-three-buckets (Steinarsson 2013),
      parallel bucket-average-anchor variant
      (``timeseries.lttb_downsample``): one perceptually-best point per
      bucket, selection fully parallel (no per-series sequential pass);
      anchors from exact integer sums so both engines pick identical
      points. The LTTB point degenerates the m4 quadruple
      (v_min=…=v_last, t_first=t_last) so both members share a schema.
    """
    from sensapp_spark.operators.timeseries import (
        lttb_downsample,
        m4_downsample,
    )

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir).join(
        F.broadcast(
            sensors.filter(F.col("name") == "error").select("sensor_id")
        ),
        "sensor_id",
        "leftsemi",
    )
    m4 = m4_downsample(
        vals, on=["sensor_id"], bucket="day", tiebreaker="event_id"
    ).select(
        F.lit("m4").alias("scope"), "sensor_id", "bucket", "n",
        "v_min", "v_max", "v_first", "v_last", "t_first", "t_last",
    )
    lttb = lttb_downsample(vals, on=["sensor_id"], bucket="day").select(
        F.lit("lttb").alias("scope"), "sensor_id", "bucket", "n",
        F.col("v_sel").alias("v_min"), F.col("v_sel").alias("v_max"),
        F.col("v_sel").alias("v_first"), F.col("v_sel").alias("v_last"),
        F.col("t_sel").alias("t_first"), F.col("t_sel").alias("t_last"),
    )
    return m4.unionByName(lttb)


@register(
    "rolling_anomaly",
    _PRELUDE
    + """
    SELECT 'rolling_avg' AS kind, sensor_id, event_id, value FROM (
        SELECT v.sensor_id, v.event_id,
               ROUND(AVG(v.value) OVER (
                   PARTITION BY v.sensor_id
                   ORDER BY v.time, v.event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS value
        FROM vals v
        WHERE v.sensor_id IN (SELECT sensor_id FROM sensors
                              WHERE name = 'signup'))
    UNION ALL
    SELECT 'zscore', sensor_id, event_id, value FROM (
        WITH stats AS (
            SELECT sensor_id, AVG(value) AS mu, stddev_pop(value) AS sigma
            FROM vals GROUP BY sensor_id)
        SELECT v.sensor_id, v.event_id,
               ROUND((v.value - s.mu) / s.sigma, 6) AS value
        FROM vals v JOIN stats s USING (sensor_id)
        WHERE s.sigma > 0 AND abs((v.value - s.mu) / s.sigma) > 2.5)
    UNION ALL
    SELECT 'ewma', sensor_id, event_id, value FROM (
        WITH warr AS (
            SELECT v.sensor_id, v.event_id,
                   list(v.value) OVER (
                       PARTITION BY v.sensor_id
                       ORDER BY v.time, v.event_id
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS arr
            FROM vals v
            WHERE v.sensor_id IN (SELECT sensor_id FROM sensors
                                  WHERE name = 'signup')
              AND v.value IS NOT NULL)
        SELECT sensor_id, event_id,
               ROUND(
                 list_reduce(
                     [arr[i] * pow(0.7, len(arr) - i)
                      FOR i IN range(1, len(arr) + 1)], (a, b) -> a + b)
                 / list_reduce(
                     [pow(0.7, len(arr) - i)
                      FOR i IN range(1, len(arr) + 1)], (a, b) -> a + b),
                 6) AS value
        FROM warr)
    """,
)
def rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: per-sample derived series as one tagged union —
    trailing 5-row moving average per signup series (ROWS-bounded
    window, O(window) state per row), per-series z-score anomalies
    (|z| > 2.5; dimension-sized stats aggregate broadcast back to the
    scan), and bounded-window EWMA smoothing (``timeseries.ewma`` —
    the distributed truncated-renormalized form of the sequential EWMA
    recurrence; left-to-right folds keep both engines bit-aligned)."""
    from sensapp_spark.operators.timeseries import rolling_mean, zscore_outliers

    sensors = td.events_sensors(spark, sf_dir)
    vals = td.events_values(spark, sf_dir)
    signup = vals.join(
        F.broadcast(
            sensors.filter(F.col("name") == "signup").select("sensor_id")
        ),
        "sensor_id",
        "leftsemi",
    )
    rolling = rolling_mean(
        signup, on=["sensor_id"], window_rows=5, tiebreakers=["event_id"]
    ).select(
        "sensor_id", "event_id", F.round("value_rolling", 6).alias("value")
    )
    zscore = zscore_outliers(vals, on=["sensor_id"], threshold=2.5).select(
        "sensor_id", "event_id", F.round("zscore", 6).alias("value")
    )
    from sensapp_spark.operators.timeseries import ewma

    smoothed = ewma(
        signup, on=["sensor_id"], alpha=0.3, window_rows=20,
        tiebreakers=["event_id"],
    ).select(
        "sensor_id", "event_id", F.round("value_ewma", 6).alias("value")
    )
    return _union_tagged(
        [("rolling_avg", rolling), ("zscore", zscore), ("ewma", smoothed)],
        "kind",
    )


@register(
    "series_corr_daily",
    """
    WITH daily AS (
        SELECT user_id, event_type,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
               AVG(value) AS v
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1, 2, 3),
    paired AS (
        SELECT c.user_id, c.d, c.v AS cv, w.v AS wv
        FROM (SELECT * FROM daily WHERE event_type = 'click') c
        JOIN (SELECT * FROM daily WHERE event_type = 'view') w
          USING (user_id, d))
    SELECT user_id, ROUND(corr(cv, wv), 6) AS click_view_corr,
           COUNT(*) AS n_days
    FROM paired GROUP BY user_id
    HAVING var_pop(cv) > 0 AND var_pop(wv) > 0
    """,
)
def series_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference: cross-series correlation — each user's click
    and view series aligned on daily buckets, Pearson correlation across
    days. Both sides pre-aggregate to buckets before the join, so the
    shuffle carries days, not samples."""
    ev = td.load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "view")
    )
    daily = ev.groupBy(
        "user_id",
        "event_type",
        F.date_trunc("day", "ts").alias("d"),
    ).agg(F.avg("value").alias("v"))
    c = daily.filter(F.col("event_type") == "click").select(
        "user_id", "d", F.col("v").alias("cv")
    )
    w = daily.filter(F.col("event_type") == "view").select(
        "user_id", "d", F.col("v").alias("wv")
    )
    paired = c.join(w, ["user_id", "d"])
    return (
        paired.groupBy("user_id")
        .agg(
            F.round(F.corr("cv", "wv"), 6).alias("click_view_corr"),
            F.count("*").alias("n_days"),
            F.var_pop("cv").alias("__vc"),
            F.var_pop("wv").alias("__vw"),
        )
        .filter((F.col("__vc") > 0) & (F.col("__vw") > 0))
        .drop("__vc", "__vw")
    )


# ---------------------------------------------------------------------------
# Typed value tables (SURVEY §1.2 / §7.4 risks 2 and 5): oracle-checked
# entries for the non-Float types. The testdata is Float-only, so each
# entry derives a typed value table from events deterministically (the
# way geo_within_radius derives coordinates) and queries it through the
# engine's typed-column machinery — Decimal(38,18) exactness, Boolean
# aggregates, the Location struct, JSON extraction, Blob base64 —
# matching reference semantics at src/storage/sqlite/sqlite_publishers.rs:34-66.
# ---------------------------------------------------------------------------

@register(
    "typed_scalar",
    """
    WITH dec AS (
        SELECT event_type || '/' || CAST(user_id AS VARCHAR) AS sensor_id,
               CAST(CAST(event_id AS VARCHAR) || '.'
                    || lpad(CAST(event_id % 997 AS VARCHAR), 3, '0')
                    AS DECIMAL(38,18)) AS value
        FROM events),
    b AS (
        SELECT event_type || '/' || CAST(user_id AS VARCHAR) AS sensor_id,
               event_id % 7 < 3 AS value
        FROM events)
    SELECT 'decimal' AS ttype, sensor_id,
           COUNT(*) AS n,
           CAST(CAST(SUM(value) AS DECIMAL(38,18)) AS VARCHAR) AS total,
           CAST(NULL AS BIGINT) AS n_true,
           -- FALSE (not NULL) sentinels: pandas marshals a NULL BOOLEAN
           -- as float NaN in DuckDB but object None in Spark, which the
           -- driver hash distinguishes; the ttype tag disambiguates.
           FALSE AS all_true,
           FALSE AS any_true
    FROM dec GROUP BY sensor_id
    UNION ALL
    SELECT 'boolean', sensor_id,
           COUNT(*),
           CAST(NULL AS VARCHAR),
           COUNT(*) FILTER (WHERE value),
           bool_and(value),
           bool_or(value)
    FROM b GROUP BY sensor_id
    """,
)
def typed_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric (exact decimal) + Boolean value tables as one tagged
    family union (SURVEY §1.2 types; formerly the separate
    ``typed_decimal``/``typed_boolean`` entries — consolidated to keep
    the registry at its 50-row driver budget).

    Decimal leg: DecimalType(38,18) (the reference's rust_decimal /
    ClickHouse Decimal128(38)); values constructed from integers via
    string form — exact in both engines — and the per-sensor SUM emitted
    as its canonical string so the driver hash proves *decimal*
    exactness, not float proximity. Boolean leg: per-sensor count /
    true-count / conjunction / disjunction. All JVM aggregates with
    map-side partials."""
    from sensapp_spark.datamodel.types import SensorType, value_schema

    ev = td.load_events(spark, sf_dir)
    dec_type = value_schema(SensorType.NUMERIC)["value"].dataType
    bool_type = value_schema(SensorType.BOOLEAN)["value"].dataType
    sensor_id = F.concat(
        F.col("event_type"), F.lit("/"), F.col("user_id").cast("string")
    ).alias("sensor_id")
    dec = ev.select(
        sensor_id,
        F.concat(
            F.col("event_id").cast("string"),
            F.lit("."),
            F.lpad((F.col("event_id") % 997).cast("string"), 3, "0"),
        ).cast(dec_type).alias("value"),
    ).groupBy("sensor_id").agg(
        F.count("*").alias("n"),
        F.sum("value").cast(dec_type).cast("string").alias("total"),
    ).select(
        "sensor_id", "n", "total",
        F.lit(None).cast("long").alias("n_true"),
        # FALSE sentinels, not NULL: see the oracle SQL comment.
        F.lit(False).alias("all_true"),
        F.lit(False).alias("any_true"),
    )
    boo = ev.select(
        sensor_id,
        (F.col("event_id") % 7 < 3).cast(bool_type).alias("value"),
    ).groupBy("sensor_id").agg(
        F.count("*").alias("n"),
        F.count_if("value").alias("n_true"),
        F.bool_and("value").alias("all_true"),
        F.bool_or("value").alias("any_true"),
    ).select(
        "sensor_id", "n",
        F.lit(None).cast("string").alias("total"),
        "n_true", "all_true", "any_true",
    )
    return _union_tagged([("decimal", dec), ("boolean", boo)], "ttype")


@register(
    "typed_location",
    """
    WITH pts AS (
        SELECT event_id,
               ROUND(80 * sin(value), 6) AS latitude,
               ROUND(170 * sin(2 * value), 6) AS longitude
        FROM events)
    SELECT event_id, latitude, longitude
    FROM pts
    WHERE latitude >= 0 AND latitude <= 45
      AND longitude >= 0 AND longitude <= 90
    """,
)
def typed_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location value table: the STRUCT{latitude, longitude} column of
    SURVEY §1.2 (reference stores two REAL columns, sqlite
    init.sql:88-95). Values are packed into the real LOCATION_STRUCT
    type, bbox-filtered on the struct fields (predicates push down to
    parquet on a struct column), and unpacked for comparison."""
    from sensapp_spark.operators.geo import bbox_filter

    ev = td.load_events(spark, sf_dir)
    # The lake's Location type is LOCATION_STRUCT (non-null fields);
    # derived expressions are nullable, so the struct is built directly —
    # same field names/types, no cast (Spark cannot cast TO non-null).
    # Coordinates are rounded to 6 places BEFORE the bbox predicate (in
    # both engines): libm sin() may differ in the last ulp between the
    # JVM and DuckDB, and an unrounded boundary comparison would make
    # row membership platform-dependent. 6 decimals ≈ 0.1 m — below any
    # meaningful geo resolution, far above ulp noise.
    pts = ev.select(
        "event_id",
        F.struct(
            F.round(F.lit(80.0) * F.sin("value"), 6).alias("latitude"),
            F.round(F.lit(170.0) * F.sin(F.col("value") * 2), 6).alias(
                "longitude"
            ),
        ).alias("value"),
    ).select(
        "event_id",
        F.col("value.latitude").alias("latitude"),
        F.col("value.longitude").alias("longitude"),
    )
    return bbox_filter(pts, 0.0, 45.0, 0.0, 90.0)


@register(
    "typed_json_blob",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
               AS k_bucket,
           octet_length(encode(event_type || '/'
                               || CAST(event_id AS VARCHAR))) AS blob_len,
           to_base64(encode(event_type || '/'
                            || CAST(event_id AS VARCHAR))) AS blob_b64
    FROM events
    """,
)
def typed_json_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Json + Blob value tables in one per-event frame: JSON field
    extraction from the events ``props`` column (StringType storage +
    ``get_json_object`` on read, per SURVEY §1.2) and a BinaryType
    payload round-tripped through base64 (the reference's Blob export
    encoding, src/exporters/csv.rs Blob→base64). Both are map-only
    JVM expressions — no shuffle at any scale."""
    from sensapp_spark.datamodel.types import SensorType, value_schema

    ev = td.load_events(spark, sf_dir)
    blob_type = value_schema(SensorType.BLOB)["value"].dataType
    blob = F.encode(
        F.concat(
            F.col("event_type"), F.lit("/"), F.col("event_id").cast("string")
        ),
        "UTF-8",
    ).cast(blob_type)
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k"),
        # try_cast, not cast: under ANSI mode (Spark 4 default) a strict
        # cast THROWS on non-numeric input where the DuckDB oracle's
        # TRY_CAST returns NULL — try_cast gives the same null-on-failure
        # semantics on both engines.
        (k.try_cast("long") % 10).alias("k_bucket"),
        F.octet_length(blob).alias("blob_len"),
        F.base64(blob).alias("blob_b64"),
    )


@register(
    "query_all_types_dispatch",
    """
    WITH src AS (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS time, value,
               user_id, event_id
        FROM events
        WHERE event_id % 10 = 0
          AND event_type = 'click'
          AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05'
          AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20')
    SELECT 'Float' AS vtype, event_type || '/Float' AS sensor_id, time,
           event_type AS name,
           value AS value_float,
           CAST(NULL AS BIGINT) AS value_long,
           -- FALSE (not NULL) sentinel: pandas marshals NULL BOOLEAN as
           -- float NaN in DuckDB but object None in Spark; the vtype
           -- tag disambiguates real FALSE from not-this-type.
           FALSE AS value_bool,
           CAST(NULL AS VARCHAR) AS value_str
    FROM src
    UNION ALL
    SELECT 'Integer', event_type || '/Integer', time, event_type,
           CAST(NULL AS DOUBLE), user_id,
           FALSE, CAST(NULL AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'Boolean', event_type || '/Boolean', time, event_type,
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           event_id % 2 = 0, CAST(NULL AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'String', event_type || '/String', time, event_type,
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           FALSE,
           event_type || '#' || CAST(user_id % 5 AS VARCHAR)
    FROM src
    """,
)
def query_all_types_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8/Q9 driven END-TO-END through real storage: a SensorLake is
    written (sensors dimension + four typed value tables, month-
    partitioned parquet — operators B4/B5), then fetched through
    ``query_all_types`` itself — matcher selection, per-type table
    dispatch, time range, result assembly — matching the reference's
    per-type batch-query fan-out (src/storage/sqlite/batch_queries.rs:
    25-116; the PG backend runs the type queries concurrently, which
    Spark gets as independent jobs per returned frame). The four typed
    result frames union under a type tag with one value column per
    Spark type, so the driver hash covers every dispatched row with
    native types intact.

    Events are thinned 10× (event_id % 10) to bound the per-run lake
    write; the lake lands in a per-sf temp dir rebuilt on each call so
    the entry is idempotent."""
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.operators.selection import query_all_types
    from sensapp_spark.storage.lake import SensorLake

    ev = td.load_events(spark, sf_dir).filter(F.col("event_id") % 10 == 0)
    lake = SensorLake(spark, _entry_lake_dir("q8_lake", sf_dir))

    value_exprs = {
        SensorType.FLOAT: F.col("value"),
        SensorType.INTEGER: F.col("user_id"),
        SensorType.BOOLEAN: F.col("event_id") % 2 == 0,
        SensorType.STRING: F.concat(
            F.col("event_type"), F.lit("#"),
            (F.col("user_id") % 5).cast("string"),
        ),
    }
    et = ev.select("event_type").distinct()
    sensor_frames = []
    for stype in value_exprs:
        sensor_frames.append(
            et.select(
                F.concat("event_type", F.lit(f"/{stype.label}")).alias(
                    "sensor_id"
                ),
                F.col("event_type").alias("name"),
                F.lit(stype.label).alias("type"),
                F.lit(None).cast("string").alias("unit"),
                F.lit(None).cast("string").alias("unit_description"),
                F.create_map(F.lit("et"), F.col("event_type")).alias(
                    "labels"
                ),
            )
        )
    from functools import reduce

    lake.upsert_sensors(reduce(lambda a, b: a.unionByName(b), sensor_frames))

    # The four typed appends are independent write jobs into disjoint
    # tables — overlap them from a driver pool (guide §2.6) so each
    # job's task tail back-fills the others' executors: 7.2 s -> 4.4 s
    # cold (1.5 s warm) measured at sf0.1. Written rows are identical;
    # the PG reference runs its per-type queries concurrently too.
    def _append_typed(item):
        stype, expr = item
        # coalesce(8): the thinned per-type frame is small, and a
        # 32-task write per type is pure scheduler overhead here; real
        # ingest sizes its writers from the micro-batch, not this demo.
        lake.append_values(
            stype,
            ev.select(
                F.concat("event_type", F.lit(f"/{stype.label}")).alias(
                    "sensor_id"
                ),
                F.col("ts").alias("time"),
                expr.alias("value"),
            ).coalesce(8),
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        _await_all([
            pool.submit(_append_typed, item)
            for item in value_exprs.items()
        ])

    matchers = [LabelMatcher("et", "click", MatcherType.EQUAL)]
    res = query_all_types(lake, matchers, start=T_START, end=T_END)

    null_cols = {
        "value_float": F.lit(None).cast("double"),
        "value_long": F.lit(None).cast("long"),
        # FALSE sentinel, not NULL: see the oracle SQL comment.
        "value_bool": F.lit(False),
        "value_str": F.lit(None).cast("string"),
    }
    typed_col = {
        SensorType.FLOAT: "value_float",
        SensorType.INTEGER: "value_long",
        SensorType.BOOLEAN: "value_bool",
        SensorType.STRING: "value_str",
    }
    parts = []
    for stype, col_name in typed_col.items():
        df = res[stype]
        cols = dict(null_cols)
        cols[col_name] = F.col("value")
        parts.append(
            (
                stype.label,
                df.select(
                    "sensor_id", "time", "name",
                    *[expr.alias(name) for name, expr in cols.items()],
                ),
            )
        )
    return _union_tagged(parts, "vtype")


_register_pipeline()
