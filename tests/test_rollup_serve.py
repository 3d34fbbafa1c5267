"""Rollup-served range queries (query/rollup_serve.py): the maintained
continuous aggregate must answer grain-compatible range queries
EXACTLY — hash-equal to promql_ext.evaluate_range over raw rows —
including the closed-window boundary samples that the edge quartet
exists for, rows the maintainer has not refreshed yet (realtime tail),
offset modifiers, and every aggregation/post-op layered on top. The
oracle in every test is the raw evaluator itself."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.query.promql_ext import evaluate_range, parse_extended
from sensapp_spark.query.rollup_serve import (
    evaluate_range_rollup,
    maintained_grains,
    range_windows,
    rollup_serveable,
)
from sensapp_spark.storage.lake import SensorLake
from sensapp_spark.storage.rollup import RollupStore

T0 = dt.datetime(2024, 1, 1)  # hour-aligned
NOW = dt.datetime(2024, 1, 1, 12, 17, 3)  # NOT aligned — never matters
H = 3600


def _mk_lake(spark, tmp_path, rows):
    """rows: (sensor_id, seconds_after_T0, value). Returns (lake,
    sensors frame shaped like the dimension table)."""
    lake = SensorLake(spark, str(tmp_path / "serve_lake"))
    vals = spark.createDataFrame(
        [(s, T0 + dt.timedelta(seconds=off), float(v))
         for (s, off, v) in rows],
        "sensor_id string, time timestamp, value double",
    )
    lake.append_values(SensorType.FLOAT, vals)
    sensors = (
        vals.select("sensor_id").distinct()
        .select(
            "sensor_id",
            F.split("sensor_id", "/").getItem(0).alias("name"),
            F.lit("Float").alias("type"),
            F.lit(None).cast("string").alias("unit"),
            F.lit(None).cast("string").alias("unit_description"),
            F.create_map(
                F.lit("site"), F.split("sensor_id", "/").getItem(1)
            ).alias("labels"),
        )
    )
    return lake, sensors


# Samples deliberately include EXACT hour-boundary times (0, 3600,
# 7200…) — the closed-window right-endpoint case a naive bucket fold
# gets wrong — interleaved with mid-bucket times. Values are binary-
# exact (k/4) so served == raw is equality, not approx.
ROWS = [
    ("m/a", 0, 1.25),        # exactly at T0 (bucket + window edges)
    ("m/a", 1800, 2.5),
    ("m/a", 3600, 4.0),      # exactly at T0+1h
    ("m/a", 3600, -1.0),     # duplicate boundary instant
    ("m/a", 5400, 0.25),
    ("m/a", 10800, 9.0),     # exactly at T0+3h
    ("m/b", 900, 3.0),
    ("m/b", 7200, -2.75),    # exactly at T0+2h
    ("m/b", 7201, 8.0),
    ("m/b", 13500, 1.0),
    ("n/a", 3600, 100.0),    # different metric name
]


def _rows(df):
    out = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        v = d.pop("value")
        key = tuple(sorted(
            (k, tuple(sorted(val.items())) if isinstance(val, dict)
             else val)
            for k, val in d.items()
        ))
        out.append((key, v))
    out.sort(key=lambda kv: str(kv[0]))
    return out


def _assert_served_equals_raw(store, lake, sensors, expr, start, end,
                              step, realtime=True):
    eq = parse_extended(expr, now=NOW)
    assert rollup_serveable(eq, store.grain_s, start, step, now=NOW), expr
    served = evaluate_range_rollup(
        store, sensors, eq, start, end, step, now=NOW, realtime=realtime
    )
    raw = evaluate_range(
        sensors, lake.values(SensorType.FLOAT), eq,
        start=start, end=end, step_seconds=step, now=NOW,
    )
    s, w = _rows(served), _rows(raw)
    assert [k for k, _ in s] == [k for k, _ in w], expr
    for (ks, vs), (_, vw) in zip(s, w):
        assert vs == pytest.approx(vw, rel=1e-12, abs=1e-12), (expr, ks)


@pytest.fixture(scope="module")
def served_lake(spark, tmp_path_factory):
    lake, sensors = _mk_lake(
        spark, tmp_path_factory.mktemp("serve"), ROWS
    )
    store = RollupStore(lake, grain_s=H)
    store.refresh(SensorType.FLOAT)
    return lake, sensors, store


FUNCS = ["sum_over_time", "count_over_time", "min_over_time",
         "max_over_time", "avg_over_time", "stddev_over_time",
         "stdvar_over_time"]


@pytest.mark.parametrize("func", FUNCS)
def test_served_equals_raw_all_funcs(served_lake, func):
    """Tiling windows (step == range) — the dashboard shape — over
    data with exact-boundary samples: the edge quartet must make the
    closed-window fold sample-exact for every quartet function."""
    lake, sensors, store = served_lake
    _assert_served_equals_raw(
        store, lake, sensors, f"{func}(m[1h])",
        start=T0 + dt.timedelta(hours=1), end=T0 + dt.timedelta(hours=4),
        step=3600,
    )


def test_served_overlapping_and_gapped_windows(served_lake):
    """range > step (sliding/overlapping) and range < step (gapped)
    both fold exactly — the explode index math, not luck."""
    lake, sensors, store = served_lake
    _assert_served_equals_raw(
        store, lake, sensors, "sum_over_time(m[3h])",
        start=T0 + dt.timedelta(hours=1), end=T0 + dt.timedelta(hours=4),
        step=3600,
    )
    _assert_served_equals_raw(
        store, lake, sensors, "max_over_time(m[1h])",
        start=T0 + dt.timedelta(hours=1), end=T0 + dt.timedelta(hours=4),
        step=7200,
    )


def test_served_with_offset_and_matchers(served_lake):
    """offset (a grain multiple) shifts the served windows identically
    to the raw path; label matchers prune the same series."""
    lake, sensors, store = served_lake
    _assert_served_equals_raw(
        store, lake, sensors, "sum_over_time(m[1h] offset 1h)",
        start=T0 + dt.timedelta(hours=2), end=T0 + dt.timedelta(hours=4),
        step=3600,
    )
    _assert_served_equals_raw(
        store, lake, sensors, 'avg_over_time(m{site="b"}[2h])',
        start=T0 + dt.timedelta(hours=2), end=T0 + dt.timedelta(hours=4),
        step=3600,
    )


def test_served_with_aggregations_and_post_ops(served_lake):
    """Everything above the window reduction reuses _finish_range —
    pin a representative stack of each layer anyway."""
    lake, sensors, store = served_lake
    for expr in [
        "sum(sum_over_time(m[1h]))",
        "max by (site) (avg_over_time(m[2h]))",
        "abs(sum_over_time(m[1h]))",
        "topk(1, count_over_time(m[1h]))",
    ]:
        _assert_served_equals_raw(
            store, lake, sensors, expr,
            start=T0 + dt.timedelta(hours=1),
            end=T0 + dt.timedelta(hours=4), step=3600,
        )


def test_served_covers_unrefreshed_tail(served_lake, spark):
    """Rows appended AFTER the last refresh must still be answered
    exactly (read_realtime's recomputed tail) — the serving path can
    never return stale buckets."""
    lake, sensors, store = served_lake
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame(
            [("m/a", T0 + dt.timedelta(seconds=7200), 50.0),
             ("m/b", T0 + dt.timedelta(seconds=9000), -9.5)],
            "sensor_id string, time timestamp, value double",
        ),
    )
    _assert_served_equals_raw(
        store, lake, sensors, "sum_over_time(m[1h])",
        start=T0 + dt.timedelta(hours=1), end=T0 + dt.timedelta(hours=4),
        step=3600,
    )
    # Refresh folds the tail in; still exact (and back to rollup-only
    # IO — test_served_plan_reads_rollup_not_raw pins that).
    store.refresh(SensorType.FLOAT)
    _assert_served_equals_raw(
        store, lake, sensors, "min_over_time(m[2h])",
        start=T0 + dt.timedelta(hours=2), end=T0 + dt.timedelta(hours=4),
        step=3600,
    )


@pytest.mark.parametrize("expr", [
    "rate(m[1h])",
    "rate(m[2h])",
    "increase(m[1h])",
    "delta(m[2h])",
    "last_over_time(m[1h])",
    "m",                       # plain selector: per-step last sample
    "sum(rate(m[2h]))",        # agg over served rise values
    "timestamp(m[2h])",        # last-sample epoch seconds, bit-equal
    "present_over_time(m[1h])",
    # Round 13 (schema 3): within-bucket counters + cross-bucket
    # boundary terms folded in window order…
    "resets(m[1h])",
    "resets(m[2h])",
    "changes(m[1h])",
    "changes(m[2h])",
    "changes(m[3h])",
    # …and the last-two-samples fold, including the duplicate-
    # boundary-instant tie (both samples at T0+1h → span 0 → drop)
    # and the prev-sample-in-an-earlier-bucket crossing.
    "irate(m[1h])",
    "irate(m[2h])",
    "idelta(m[2h])",
    "sum by (site) (changes(m[2h]))",
])
def test_served_rise_family_equals_raw(served_lake, expr):
    """Rounds 12–13: the ordered per-bucket state serves the rise,
    deviation, reset/change and last-two families — including
    single-sample windows dropping (span 0), the duplicate-boundary-
    instant tie (struct ordering on both paths), and windows whose
    first/last samples sit exactly on bucket edges."""
    lake, sensors, store = served_lake
    _assert_served_equals_raw(
        store, lake, sensors, expr,
        start=T0 + dt.timedelta(hours=1), end=T0 + dt.timedelta(hours=4),
        step=3600,
    )


def test_served_rate_plan_reads_rollup_not_raw(served_lake):
    """The counter-panel claim: a served rate() plans over _rollups/
    files only."""
    lake, sensors, store = served_lake
    store.refresh(SensorType.FLOAT)
    eq = parse_extended("rate(m[2h])", now=NOW)
    served = evaluate_range_rollup(
        store, sensors, eq,
        T0 + dt.timedelta(hours=2), T0 + dt.timedelta(hours=4), 3600,
        now=NOW,
    )
    files = served.inputFiles()
    assert files and all("_rollups" in f for f in files), files


def test_instant_serving_equals_raw(served_lake):
    """Anchored instant queries (the replay/report shape) fold from
    the rollup: served == evaluate_extended for quartet AND rise
    functions, including aggregation tails."""
    from sensapp_spark.query.promql_ext import evaluate_extended
    from sensapp_spark.query.rollup_serve import (
        evaluate_instant_rollup,
        rollup_serveable_instant,
    )

    lake, sensors, store = served_lake
    anchor = int(
        (T0 + dt.timedelta(hours=3)).replace(
            tzinfo=dt.timezone.utc
        ).timestamp()
    )
    for expr in [
        f"sum_over_time(m[2h] @ {anchor})",
        f"rate(m[3h] @ {anchor})",
        f"last_over_time(m[1h] @ {anchor})",
        f"sum by (site) (increase(m[2h] @ {anchor}))",
        # Round 13: the ordered per-bucket state serves instants too.
        f"resets(m[3h] @ {anchor})",
        f"changes(m[2h] @ {anchor})",
        f"irate(m[3h] @ {anchor})",
        f"idelta(m[2h] @ {anchor})",
    ]:
        eq = parse_extended(expr, now=NOW)
        assert rollup_serveable_instant(eq, store.grain_s), expr
        served = evaluate_instant_rollup(store, sensors, eq)
        raw = evaluate_extended(
            sensors, lake.values(SensorType.FLOAT), eq
        )
        assert _rows(served) == _rows(raw), expr
    # Misaligned anchor or window: not serveable.
    eq = parse_extended(f"rate(m[90m] @ {anchor})", now=NOW)
    assert not rollup_serveable_instant(eq, store.grain_s)
    eq = parse_extended(f"rate(m[1h] @ {anchor + 7})", now=NOW)
    assert not rollup_serveable_instant(eq, store.grain_s)


def test_committed_schema_versioning(spark, tmp_path):
    """A fresh table commits the current schema; an incremental
    splice over a downgraded (pre-upgrade) table inherits version 1 —
    the serving layer's honest-fallback gate (the upgrade path is
    tests/test_rollup_upgrade.py)."""
    import json as _json
    import os as _os

    from sensapp_spark.storage.lake import resolve_table
    from sensapp_spark.storage.rollup import ROLLUP_META

    lake, sensors = _mk_lake(spark, tmp_path, ROWS[:4])
    store = RollupStore(lake, grain_s=H)
    store.refresh(SensorType.FLOAT)
    assert (
        store.committed_schema(SensorType.FLOAT)
        == RollupStore.SCHEMA_VERSION
    )
    # Simulate a table written before the first/last quartet: strip
    # the schema key from the committed meta (pre-versioning metas
    # have none and read as 1).
    data = resolve_table(store._path(SensorType.FLOAT))
    meta_path = _os.path.join(data, ROLLUP_META)
    meta = _json.loads(open(meta_path, "rb").read())
    meta.pop("schema")
    with open(meta_path, "wb") as fh:
        fh.write(_json.dumps(meta).encode())
    assert store.committed_schema(SensorType.FLOAT) == 1
    # Incremental refresh keeps the honest version-1 stamp (its
    # kept-old months still lack real first/last values) …
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame(
            [("m/a", T0 + dt.timedelta(seconds=1000), 7.5)],
            "sensor_id string, time timestamp, value double",
        ),
    )
    assert store.refresh(SensorType.FLOAT)["mode"] == "incremental"
    assert store.committed_schema(SensorType.FLOAT) == 1


def test_folded_firstlast_matches_direct_coarse_store(served_lake):
    """read_folded must equal a coarse-grain store's direct
    aggregation on EVERY value column — the struct min/max merge for
    first/last, and (round 13) the ordered-sequence fold for the
    reset/change counters and the second-to-last sample."""
    lake, sensors, store = served_lake
    store.refresh(SensorType.FLOAT)
    folded = store.read_folded(SensorType.FLOAT, 7200)
    direct = RollupStore(lake, grain_s=7200)._direct_buckets(
        SensorType.FLOAT, None, None
    )
    cols = ["sensor_id", "bucket", *RollupStore.VALUE_COLS]
    f = sorted(map(str, folded.select(*cols).collect()))
    d = sorted(map(str, direct.select(*cols).collect()))
    assert f == d


def test_serveability_gate(served_lake):
    """Misaligned or quartet-inexpressible shapes must refuse — the
    route's honest fallback to raw depends on this gate."""
    lake, sensors, store = served_lake
    aligned = T0 + dt.timedelta(hours=1)

    def ok(expr, start=aligned, step=3600.0):
        return rollup_serveable(
            parse_extended(expr, now=NOW), store.grain_s, start, step,
            now=NOW,
        )

    assert ok("sum_over_time(m[1h])")
    assert not ok("sum_over_time(m[90m])")          # range % grain != 0
    assert not ok("sum_over_time(m[1h])", step=1800)  # step % grain
    assert not ok(                                   # start-offset % grain
        "sum_over_time(m[1h])", start=aligned + dt.timedelta(minutes=7)
    )
    assert not ok("sum_over_time(m[1h] offset 30m)")  # offset % grain
    # Round 12: the first/last quartet admits the rise family, plain
    # selectors and last_over_time (every Grafana counter panel).
    assert ok("rate(m[1h])")
    assert ok("increase(m[2h])")
    assert ok("last_over_time(m[1h])")
    assert ok("m")                                   # per-step last
    assert ok("stddev_over_time(m[1h])")             # Σv² moment
    assert ok("stdvar_over_time(m[1h])")
    assert not ok("rate(m[90m])")                    # range % grain
    # Round 13: the last-two-samples struct and the reset/change
    # counters admit irate/idelta/resets/changes (schema ≥ 3 —
    # the route additionally gates on committed_schema).
    assert ok("irate(m[1h])")
    assert ok("idelta(m[2h])")
    assert ok("resets(m[1h])")
    assert ok("changes(m[1h])")
    assert not ok("quantile_over_time(0.5, m[1h])")  # not mergeable
    assert not ok("sum(abs(m))")                     # series_post on samples
    # A fixed anchor is one window, checked at the anchor: aligned
    # there, it serves every step; off the grain, it never does.
    assert ok("max_over_time(m[1h] @ 1704070800)")
    assert ok("max_over_time(m[1h] @ 1704070800)", step=1800)
    assert not ok("max_over_time(m[1h] @ 1704070807)")


def test_served_plan_reads_rollup_not_raw(served_lake):
    """The whole point: once refreshed, the served plan's input files
    live under _rollups/ — the raw value table is not scanned."""
    lake, sensors, store = served_lake
    store.refresh(SensorType.FLOAT)
    eq = parse_extended("sum_over_time(m[1h])", now=NOW)
    served = evaluate_range_rollup(
        store, sensors, eq,
        T0 + dt.timedelta(hours=1), T0 + dt.timedelta(hours=4), 3600,
        now=NOW,
    )
    files = served.inputFiles()
    assert files, "served plan should read committed rollup files"
    assert all("_rollups" in f for f in files), files


def test_maintained_grains_discovery(spark, tmp_path):
    lake, sensors = _mk_lake(spark, tmp_path, ROWS[:3])
    assert maintained_grains(lake) == []
    RollupStore(lake, grain_s=3600).refresh(SensorType.FLOAT)
    RollupStore(lake, grain_s=86400).refresh(SensorType.FLOAT)
    assert maintained_grains(lake) == [86400, 3600]


def test_maintained_grains_fails_loudly_on_s3_store(spark, tmp_path):
    """Discovery walks POSIX dirs; on an S3-backed lake it must raise
    — not silently report 'no grains' and disable serving forever
    (round-12 verdict, missing #5)."""
    from sensapp_spark.storage.logstore import S3LogStore, set_store

    class _Stub:
        def __getattr__(self, name):  # never actually called
            raise AssertionError("no S3 calls expected")

    lake, _sensors = _mk_lake(spark, tmp_path, ROWS[:3])
    prev = set_store(S3LogStore("bucket", client=_Stub()))
    try:
        with pytest.raises(NotImplementedError, match="LIST"):
            maintained_grains(lake)
    finally:
        set_store(prev)


def test_range_windows_rejects_misalignment(served_lake):
    lake, sensors, store = served_lake
    with pytest.raises(ValueError, match="multiples of"):
        range_windows(
            store, SensorType.FLOAT,
            T0 + dt.timedelta(hours=1), T0 + dt.timedelta(hours=2),
            step_seconds=1800, window_seconds=3600,
        )


def test_caught_up_fast_path(spark, tmp_path):
    """The metadata-only staleness check (round 11): a caught-up store
    serves read_realtime from the committed rollup with NO feed poll,
    and the idle refresh tick is a pointer read + listdir. Any doubt
    (new append, live intent marker) falls back to the proving path."""
    import os

    from sensapp_spark.storage.lake import APPEND_MARKER_PREFIX, resolve_table

    lake, sensors = _mk_lake(spark, tmp_path, ROWS[:4])
    store = RollupStore(lake, grain_s=H)
    store.refresh(SensorType.FLOAT)
    cur = store.committed_cursor(SensorType.FLOAT)
    assert store._cursor_current(SensorType.FLOAT, cur)
    # Caught up → realtime plan reads rollup files only (no raw scan,
    # which also proves no feed-poll job ran to build the frame).
    rt = store.read_realtime(SensorType.FLOAT)
    assert all("_rollups" in f for f in rt.inputFiles())
    # A new append makes the check refuse — the proving path resumes.
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame(
            [("m/a", T0 + dt.timedelta(seconds=60), 7.0)],
            "sensor_id string, time timestamp, value double",
        ),
    )
    assert not store._cursor_current(SensorType.FLOAT, cur)
    store.refresh(SensorType.FLOAT)
    cur = store.committed_cursor(SensorType.FLOAT)
    assert store._cursor_current(SensorType.FLOAT, cur)
    # ANY append-intent marker (even quiescent) = possible unrecorded
    # rows → refuse.
    data = resolve_table(lake._values_path(SensorType.FLOAT))
    marker = os.path.join(data, APPEND_MARKER_PREFIX + "test")
    open(marker, "w").close()
    try:
        assert not store._cursor_current(SensorType.FLOAT, cur)
    finally:
        os.unlink(marker)
    assert store._cursor_current(SensorType.FLOAT, cur)
    # The idle tick reports noop without a feed poll.
    assert store.refresh(SensorType.FLOAT)["mode"] == "noop"


def test_gateway_query_range_auto_routes(spark, tmp_path):
    """HTTP: with a maintained rollup, /api/v1/query_range answers
    grain-compatible queries from it (X-Served-From: rollup-3600s) with
    a body identical to ?rollup=0 (raw); incompatible shapes fall back
    honestly."""
    from sensapp_spark.server.app import create_app

    lake = SensorLake(spark, str(tmp_path / "gw_lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,gw_m\n"
                 "2024-01-01T00:00:00Z,1.25\n"
                 "2024-01-01T00:30:00Z,2.5\n"
                 "2024-01-01T01:00:00Z,4.0\n"
                 "2024-01-01T02:15:00Z,0.5\n",
            content_type="text/csv",
        )
        q = (
            "/api/v1/query_range?query=sum_over_time(gw_m[1h])"
            "&start=2024-01-01T01:00:00Z&end=2024-01-01T03:00:00Z"
            "&step=3600"
        )
        # No rollup maintained yet → raw.
        r0 = c.get(q)
        assert r0.status_code == 200
        assert r0.headers["X-Served-From"] == "raw"
        assert c.post(
            "/api/v1/admin/rollup/refresh"
        ).status_code == 200
        r1 = c.get(q)
        assert r1.headers["X-Served-From"] == "rollup-3600s"
        raw = c.get(q + "&rollup=0")
        assert raw.headers["X-Served-From"] == "raw"
        assert r1.get_json() == raw.get_json()
        assert r1.get_json()["result"], "non-empty served result"
        # Misaligned step falls back to raw — honestly, not wrongly.
        r2 = c.get(q.replace("step=3600", "step=1800"))
        assert r2.headers["X-Served-From"] == "raw"
        # rate() serves from the first/last quartet (round 12) —
        # byte-equal to the raw evaluation.
        r3 = c.get(q.replace("sum_over_time", "rate"))
        assert r3.headers["X-Served-From"] == "rollup-3600s"
        raw3 = c.get(
            q.replace("sum_over_time", "rate") + "&rollup=0"
        )
        assert raw3.headers["X-Served-From"] == "raw"
        assert r3.get_json() == raw3.get_json()
        assert r3.get_json()["result"], "non-empty served rate"
        # Quantiles are not mergeable → raw; stddev serves (round 12).
        r4 = c.get(q.replace(
            "sum_over_time(gw_m[1h])",
            "quantile_over_time(0.5,gw_m[1h])",
        ))
        assert r4.headers["X-Served-From"] == "raw"
        r5 = c.get(q.replace("sum_over_time", "stdvar_over_time"))
        assert r5.headers["X-Served-From"] == "rollup-3600s"
        raw5 = c.get(
            q.replace("sum_over_time", "stdvar_over_time") + "&rollup=0"
        )
        # The deviation pair folds from the Σv² moment — equal to the
        # raw Welford pass up to summation-order ULPs (documented in
        # rollup_serve.py; the sum fold has the same class), so this
        # A/B is approx, not byte-equal.
        sv = {x["t"]: x["value"] for x in r5.get_json()["result"]}
        rv = {x["t"]: x["value"] for x in raw5.get_json()["result"]}
        assert sv.keys() == rv.keys() and all(
            sv[t] == pytest.approx(rv[t], rel=1e-12) for t in sv
        )


def test_gateway_sketch_rollup_routes(spark, tmp_path):
    """HTTP surface of the continuous sketch rollup: ?sketch=1 on the
    refresh tick maintains the bucket-keyed KMV/CMS table;
    /rollup/distinct serves per-bucket distinct-series estimates
    (exact below k), /rollup/heavy probes a bounded id list."""
    from sensapp_spark.server.app import create_app

    lake = SensorLake(spark, str(tmp_path / "sk_lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,sk_a,sk_b\n"
                 "2024-01-01T00:10:00Z,1.0,5.0\n"
                 "2024-01-01T00:40:00Z,2.0,5.5\n"
                 "2024-01-01T01:20:00Z,3.0,6.0\n",
            content_type="text/csv",
        )
        r = c.post("/api/v1/admin/rollup/refresh?sketch=1")
        assert r.status_code == 200
        assert r.get_json()["sketch"] is True
        d = c.get("/api/v1/rollup/distinct").get_json()
        got = {b["bucket"]: b["distinct_series"] for b in d["buckets"]}
        assert {b.split("T")[0] for b in got} == {"2024-01-01"}
        assert sorted(got.values()) == [2.0, 2.0]
        # Daily fold merges the hourly sketches at read time.
        f = c.get("/api/v1/rollup/distinct?fold=86400").get_json()
        assert [b["distinct_series"] for b in f["buckets"]] == [2.0]
        doc = c.get("/series").get_json()
        sid = doc["dcat:dataset"][0]["dct:identifier"]
        h = c.get(f"/api/v1/rollup/heavy?sensor_ids={sid}").get_json()
        assert len(h["estimates"]) == 2  # two buckets probed
        assert all(e["rows_estimate"] >= 1.0 for e in h["estimates"])
        assert c.get("/api/v1/rollup/heavy").status_code == 400
        assert c.get(
            "/api/v1/rollup/distinct?grain=abc"
        ).status_code == 400
