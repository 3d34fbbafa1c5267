"""Bottom-k value-sample rollup (storage/qrollup.py): the OPT-IN
approximate ``quantile_over_time`` serving path. Exactness claims:
deterministic sample selection (hash-pinned vs DuckDB by the registry
arm), EXACT results whenever a window holds ≤ K samples, mergeable
folds, honest opt-in routing with the X-Approx header."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.query.promql_ext import evaluate_range, parse_extended
from sensapp_spark.query.rollup_serve import (
    evaluate_range_rollup,
    quantile_rollup_serveable,
)
from sensapp_spark.storage.lake import SensorLake
from sensapp_spark.storage.qrollup import QuantileRollupStore
from sensapp_spark.storage.rollup import RollupStore

T0 = dt.datetime(2024, 1, 1)
NOW = dt.datetime(2024, 1, 1, 12, 0, 0)


def _mk_lake(spark, tmp_path, n_per_hour=7, hours=5):
    """Deterministic multi-sensor data, including exact boundary
    samples (the closed-window edge case)."""
    rows = []
    for s, base in [("m/a", 3.0), ("m/b", 40.0)]:
        for hr in range(hours):
            for k in range(n_per_hour):
                off = hr * 3600 + k * (3600 // n_per_hour)
                rows.append(
                    (s, T0 + dt.timedelta(seconds=off),
                     base + ((hr * 31 + k * 7) % 13) - 6.0)
                )
    lake = SensorLake(spark, str(tmp_path / "qlake"))
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame(
            rows, "sensor_id string, time timestamp, value double"
        ),
    )
    sensors = (
        spark.createDataFrame(
            [("m/a", "a"), ("m/b", "b")],
            "sensor_id string, site string",
        ).select(
            "sensor_id",
            F.lit("m").alias("name"),
            F.lit("Float").alias("type"),
            F.lit(None).cast("string").alias("unit"),
            F.lit(None).cast("string").alias("unit_description"),
            F.create_map(F.lit("site"), F.col("site")).alias("labels"),
        )
    )
    return lake, sensors


def test_exact_below_k_matches_raw(spark, tmp_path):
    """Windows holding ≤ K samples keep the WHOLE multiset — the
    served quantile (and mad: same sample, same interpolation
    primitive) equals the raw evaluator exactly, boundary samples
    included."""
    lake, sensors = _mk_lake(spark, tmp_path)
    store = QuantileRollupStore(lake, grain_s=3600)
    store.refresh(SensorType.FLOAT)
    exprs = [
        f"quantile_over_time({phi}, m[2h])"
        for phi in (0.0, 0.25, 0.5, 0.9, 1.0)
    ] + ["mad_over_time(m[2h])"]
    for expr in exprs:
        eq = parse_extended(expr, now=NOW)
        assert quantile_rollup_serveable(
            eq, store.grain_s, T0 + dt.timedelta(hours=2), 3600, now=NOW
        )
        served = evaluate_range_rollup(
            store, sensors, eq,
            T0 + dt.timedelta(hours=2), T0 + dt.timedelta(hours=5),
            3600, now=NOW,
        )
        raw = evaluate_range(
            sensors, lake.values(SensorType.FLOAT), eq,
            start=T0 + dt.timedelta(hours=2),
            end=T0 + dt.timedelta(hours=5),
            step_seconds=3600, now=NOW,
        )
        s = {(r.sensor_id, str(r.t)): r.value for r in served.collect()}
        w = {(r.sensor_id, str(r.t)): r.value for r in raw.collect()}
        assert s.keys() == w.keys(), expr
        for k in w:
            assert s[k] == pytest.approx(w[k], rel=1e-12), (expr, k)


def test_truncated_sample_stays_rank_accurate(spark, tmp_path):
    """Past K samples the estimate is the quantile of a uniform
    K-sample: assert the approximation's RANK error is within the
    sampling bound (loose 4·√(φ(1−φ)/K) ≈ ±0.25 at K=16) on a window
    holding ~10× K samples."""
    lake, sensors = _mk_lake(spark, tmp_path, n_per_hour=80, hours=2)

    class _QK16(QuantileRollupStore):
        K = 16
        _TABLE_SUFFIX = "quantile16_"

    store = _QK16(lake, grain_s=3600)
    store.refresh(SensorType.FLOAT)
    eq = parse_extended("quantile_over_time(0.5, m[2h])", now=NOW)
    served = {
        r.sensor_id: r.value
        for r in evaluate_range_rollup(
            store, sensors, eq,
            T0 + dt.timedelta(hours=2), T0 + dt.timedelta(hours=2),
            3600, now=NOW,
        ).collect()
    }
    raw_vals = {
        s: sorted(
            r.value for r in lake.values(SensorType.FLOAT).filter(
                (F.col("sensor_id") == s)
                & (F.col("time") <= T0 + dt.timedelta(hours=2))
            ).collect()
        )
        for s in served
    }
    assert served, "served result must not be empty"
    for s, est in served.items():
        vs = raw_vals[s]
        rank = sum(1 for v in vs if v <= est) / len(vs)
        assert 0.25 <= rank <= 0.75, (s, est, rank)


def test_fold_matches_direct_coarse_store(spark, tmp_path):
    lake, _sensors = _mk_lake(spark, tmp_path)
    fine = QuantileRollupStore(lake, grain_s=3600)
    fine.refresh(SensorType.FLOAT)
    folded = fine.read_folded(SensorType.FLOAT, 7200)
    direct = QuantileRollupStore(lake, grain_s=7200)._direct_buckets(
        SensorType.FLOAT, None, None
    )
    cols = ["sensor_id", "bucket", "qs", "eqs", "cnt"]
    f = sorted(map(str, folded.select(*cols).collect()))
    d = sorted(map(str, direct.select(*cols).collect()))
    assert f == d


def test_http_route_is_opt_in_and_self_describing(spark, tmp_path):
    from sensapp_spark.server.app import create_app

    lake, sensors_df = _mk_lake(spark, tmp_path)
    lake.upsert_sensors(sensors_df)
    app = create_app(spark, lake)
    app.testing = True
    q = (
        "/api/v1/query_range?query="
        "quantile_over_time(0.5,%20m[1h])"
        "&start=2024-01-01T02:00:00Z&end=2024-01-01T04:00:00Z"
        "&step=3600"
    )
    with app.test_client() as c:
        assert c.post(
            "/api/v1/admin/rollup/refresh?quantile=1"
        ).status_code == 200
        # Without ?approx=1: the exact raw path, no approximation.
        raw = c.get(q)
        assert raw.status_code == 200, raw.get_data(as_text=True)
        assert raw.headers["X-Served-From"] == "raw"
        assert "X-Approx" not in raw.headers
        # With the explicit opt-in: served from the sample rollup,
        # self-describing error bound in X-Approx. Below-K windows →
        # values identical to raw.
        ap = c.get(q + "&approx=1")
        assert ap.status_code == 200, ap.get_data(as_text=True)
        assert ap.headers["X-Served-From"].endswith("quantile-approx")
        assert "bottom-k" in ap.headers["X-Approx"]
        # Row order is presentation; values must match exactly.
        def rows(resp):
            return sorted(
                (r["sensor_id"], r["t"], r["value"])
                for r in resp.get_json()["result"]
            )

        assert rows(ap) == rows(raw)
        # Misaligned window: honest raw even with approx=1.
        mis = c.get(q.replace("m[1h]", "m[90m]") + "&approx=1")
        assert mis.headers["X-Served-From"] == "raw"
        # φ outside [0,1] (Prometheus → ±Inf semantics): raw path.
        wild = c.get(
            q.replace("quantile_over_time(0.5,", "quantile_over_time(1.5,")
            + "&approx=1"
        )
        assert wild.headers["X-Served-From"] == "raw"
        # mad_over_time rides the same sample under the same opt-in.
        mq = (
            "/api/v1/query_range?query=mad_over_time(m[1h])"
            "&start=2024-01-01T02:00:00Z&end=2024-01-01T04:00:00Z"
            "&step=3600"
        )
        mraw = c.get(mq)
        assert mraw.headers["X-Served-From"] == "raw"
        mad = c.get(mq + "&approx=1")
        assert mad.headers["X-Served-From"].endswith("quantile-approx")
        assert "mad_over_time" in mad.headers["X-Approx"]
        assert rows(mad) == rows(mraw)


def test_maintenance_tick_maintains_quantile_grains(spark, tmp_path):
    from sensapp_spark.streaming.maintenance import (
        MaintenancePlan,
        maintenance_tick,
    )

    lake, _sensors = _mk_lake(spark, tmp_path)
    plan = MaintenancePlan(
        rollup_grains=(), quantile_grains=(3600,),
        optimize=False, refresh_zonemaps=False,
    )
    r = maintenance_tick(lake, plan, stypes=(SensorType.FLOAT,))
    assert r["quantile_3600s_float"]["mode"] == "rebuild"
    store = QuantileRollupStore(lake, grain_s=3600)
    assert store.read(SensorType.FLOAT).count() > 0
    # Second tick: caught-up noop (the metadata fast path).
    r2 = maintenance_tick(lake, plan, stypes=(SensorType.FLOAT,))
    assert r2["quantile_3600s_float"]["mode"] == "noop"
