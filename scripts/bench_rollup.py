"""Continuous-aggregate maintenance cost at 10× scale (round 10).

The rollup's claim is work-∝-what-changed: a refresh after a small
append must cost the append's buckets, not the table. This script
builds a real SensorLake from the 10× events corpus (~1M rows,
~7.5k series — run scripts/bench_scale_registry.py first so
/tmp/sensapp_sf1/events.parquet exists), then times

* the initial full rebuild (the priced worst case),
* an incremental refresh after a 10k-row append into ONE hour
  (the steady-state tick),
* a no-op refresh (the idle tick a scheduler pays),
* read() vs read_realtime() vs direct raw aggregation for a
  dashboard-shaped window,

and cross-checks rollup == direct aggregation row-for-row after each
step. Results recorded in BASELINE.md.

Usage: python scripts/bench_rollup.py
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = "/tmp/sensapp_sf1/events.parquet"
LAKE = "/tmp/sensapp_rollup_bench"


def main() -> int:
    from pyspark.sql import functions as F

    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.session import get_spark
    from sensapp_spark.storage.lake import SensorLake
    from sensapp_spark.storage.rollup import RollupStore

    if not os.path.exists(SF1):
        print("run scripts/bench_scale_registry.py first", file=sys.stderr)
        return 1
    spark = get_spark(master="local[32]", shuffle_partitions=32)
    shutil.rmtree(LAKE, ignore_errors=True)
    lake = SensorLake(spark, LAKE)
    ev = spark.read.parquet(SF1).select(
        F.concat(
            F.col("event_type"), F.lit("/"), F.col("user_id").cast("string")
        ).alias("sensor_id"),
        F.col("ts").cast("timestamp").alias("time"),
        F.col("value"),
    )
    n_rows = ev.count()
    t0 = time.time()
    lake.append_values(SensorType.FLOAT, ev.repartition(32))
    ingest_s = time.time() - t0

    store = RollupStore(lake, grain_s=3600)
    report: dict = {"corpus_rows": n_rows, "ingest_s": round(ingest_s, 1)}

    def check() -> int:
        got = store.read(SensorType.FLOAT)
        want = store._aggregate(
            lake.values(SensorType.FLOAT)
        ).drop("month")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        return got.count()

    t0 = time.time()
    rep = store.refresh(SensorType.FLOAT)
    report["full_rebuild"] = {
        "sec": round(time.time() - t0, 2),
        "mode": rep["mode"],
        "buckets": check(),
    }

    # Steady-state tick: 10k rows into ONE hour across 100 sensors.
    hour = dt.datetime(2024, 3, 1, 12)
    batch = spark.range(10_000).select(
        F.concat(F.lit("click/"), (F.col("id") % 100).cast("string"))
        .alias("sensor_id"),
        (F.lit(hour) + F.make_dt_interval(
            secs=(F.col("id") % 3600).cast("double")
        )).alias("time"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    lake.append_values(SensorType.FLOAT, batch)
    t0 = time.time()
    rep = store.refresh(SensorType.FLOAT)
    report["incremental_10k_one_hour"] = {
        "sec": round(time.time() - t0, 2),
        "mode": rep["mode"],
        "affected_months": rep["affected_months"],
        "buckets": check(),
    }

    t0 = time.time()
    rep = store.refresh(SensorType.FLOAT)
    report["noop_tick"] = {
        "sec": round(time.time() - t0, 2), "mode": rep["mode"],
    }

    # Dashboard window: one month, all series.
    w0, w1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    t0 = time.time()
    n = store.read(SensorType.FLOAT, w0, w1).count()
    report["read_window"] = {"sec": round(time.time() - t0, 2), "rows": n}
    t0 = time.time()
    n = store.read_realtime(SensorType.FLOAT, w0, w1).count()
    report["read_realtime_window"] = {
        "sec": round(time.time() - t0, 2), "rows": n,
    }
    t0 = time.time()
    n = store._aggregate(
        lake.values(SensorType.FLOAT, start=w0, end=w1)
    ).count()
    report["direct_aggregation_window"] = {
        "sec": round(time.time() - t0, 2), "rows": n,
    }

    # Round 11: the SERVED query path — a Grafana-shaped range query
    # (sum_over_time at 25 daily steps, 1-day closed windows) answered
    # from the maintained rollup vs the raw evaluate_range explode,
    # value-checked row-for-row (the edge quartet makes them EQUAL,
    # not approximately equal).
    from pyspark.sql import functions as PF

    from sensapp_spark.query.promql_ext import (
        evaluate_range,
        parse_extended,
    )
    from sensapp_spark.query.rollup_serve import (
        evaluate_range_rollup,
        rollup_serveable,
    )

    sensors_dim = lake.sensors().select(
        "sensor_id", "name", "type", "unit", "unit_description", "labels"
    )
    if sensors_dim.isEmpty():
        # append_values alone maintains no dimension; derive one.
        sensors_dim = (
            lake.values(SensorType.FLOAT).select("sensor_id").distinct()
            .select(
                "sensor_id",
                PF.split("sensor_id", "/").getItem(0).alias("name"),
                PF.lit("Float").alias("type"),
                PF.lit(None).cast("string").alias("unit"),
                PF.lit(None).cast("string").alias("unit_description"),
                PF.create_map(
                    PF.lit("user"),
                    PF.split("sensor_id", "/").getItem(1),
                ).alias("labels"),
            )
        )
    now = dt.datetime(2024, 4, 1)
    eq = parse_extended("sum_over_time(click[1d])", now=now)
    q0, q1, step = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 27), 86400.0
    assert rollup_serveable(eq, 3600, q0, step, now=now)
    t0 = time.time()
    served = evaluate_range_rollup(
        store, sensors_dim, eq, q0, q1, step, now=now
    ).select("sensor_id", "t", "value").cache()
    n_served = served.count()
    report["range_query_rollup_served"] = {
        "sec": round(time.time() - t0, 2), "rows": n_served,
    }
    t0 = time.time()
    raw = evaluate_range(
        sensors_dim, lake.values(SensorType.FLOAT), eq,
        start=q0, end=q1, step_seconds=step, now=now,
    ).select("sensor_id", "t", "value").cache()
    n_raw = raw.count()
    report["range_query_raw"] = {
        "sec": round(time.time() - t0, 2), "rows": n_raw,
    }
    # Equality is SEMANTIC, not bit-level: summing bucket subsums
    # associates differently than summing raw samples, so ~0.4% of
    # windows differ in the last double ULP (the oracle gate's %.6g
    # formatting absorbs the same class). Pin key sets identical and
    # every value within 1e-9 relative.
    j = served.alias("s").join(
        raw.alias("r"), ["sensor_id", "t"], "full"
    ).select(
        F.col("s.value").alias("sv"), F.col("r.value").alias("rv")
    )
    bad = j.filter(
        F.col("sv").isNull() | F.col("rv").isNull()
        | (F.abs(F.col("sv") - F.col("rv"))
           > 1e-9 * F.greatest(F.abs("sv"), F.abs("rv"), F.lit(1.0)))
    ).count()
    assert bad == 0, f"{bad} windows beyond ULP tolerance"
    report["range_query_served_equals_raw"] = True

    # DENSE corpus: the events corpus is ~1 sample per sensor-hour, so
    # rollup buckets ≈ raw rows and serving only saves the
    # re-aggregation. Real fleets are DENSE (a 1/min sensor = 60
    # samples per hourly bucket) — that ratio is the serving win, so
    # measure it: 800 sensors × 1/min × 30 days = 34.6M rows → 576k
    # buckets (60×).
    DLAKE = LAKE + "_dense"
    shutil.rmtree(DLAKE, ignore_errors=True)
    dlake = SensorLake(spark, DLAKE)
    epoch0 = int(dt.datetime(
        2024, 1, 1, tzinfo=dt.timezone.utc
    ).timestamp())
    dense = spark.range(34_560_000).select(
        F.concat(F.lit("dense/"), (F.col("id") % 800).cast("string"))
        .alias("sensor_id"),
        F.timestamp_seconds(
            F.lit(epoch0) + (F.col("id") / 800).cast("long") * 60
        ).alias("time"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    t0 = time.time()
    dlake.append_values(SensorType.FLOAT, dense.repartition(32))
    dstore = RollupStore(dlake, grain_s=3600)
    dstore.refresh(SensorType.FLOAT)
    report["dense_ingest_plus_rebuild_s"] = round(time.time() - t0, 1)
    dsensors = (
        dlake.values(SensorType.FLOAT).select("sensor_id").distinct()
        .select(
            "sensor_id",
            PF.split("sensor_id", "/").getItem(0).alias("name"),
            PF.lit("Float").alias("type"),
            PF.lit(None).cast("string").alias("unit"),
            PF.lit(None).cast("string").alias("unit_description"),
            PF.create_map(
                PF.lit("u"), PF.split("sensor_id", "/").getItem(1)
            ).alias("labels"),
        )
    )
    deq = parse_extended("sum_over_time(dense[1d])", now=now)
    t0 = time.time()
    dserved = evaluate_range_rollup(
        dstore, dsensors, deq, q0, q1, step, now=now
    ).select("sensor_id", "t", "value").cache()
    nds = dserved.count()
    report["dense_range_query_rollup_served"] = {
        "sec": round(time.time() - t0, 2), "rows": nds,
    }
    t0 = time.time()
    draw = evaluate_range(
        dsensors, dlake.values(SensorType.FLOAT), deq,
        start=q0, end=q1, step_seconds=step, now=now,
    ).select("sensor_id", "t", "value").cache()
    ndr = draw.count()
    report["dense_range_query_raw"] = {
        "sec": round(time.time() - t0, 2), "rows": ndr,
    }
    dj = dserved.alias("s").join(
        draw.alias("r"), ["sensor_id", "t"], "full"
    ).select(
        F.col("s.value").alias("sv"), F.col("r.value").alias("rv")
    )
    dbad = dj.filter(
        F.col("sv").isNull() | F.col("rv").isNull()
        | (F.abs(F.col("sv") - F.col("rv"))
           > 1e-9 * F.greatest(F.abs("sv"), F.abs("rv"), F.lit(1.0)))
    ).count()
    assert dbad == 0, f"{dbad} dense windows beyond ULP tolerance"
    report["dense_range_query_served_equals_raw"] = True

    # rate() served from the first/last quartet (round 12) — the
    # Grafana counter panel. Unlike the sum fold, rate's served value
    # is BIT-equal to raw (same two samples, same division — no
    # summation-order ULP), so the check is exact equality.
    req = parse_extended("rate(dense[1d])", now=now)
    assert rollup_serveable(req, 3600, q0, step, now=now)
    t0 = time.time()
    rserved = evaluate_range_rollup(
        dstore, dsensors, req, q0, q1, step, now=now
    ).select("sensor_id", "t", "value").cache()
    nrs = rserved.count()
    report["dense_rate_rollup_served"] = {
        "sec": round(time.time() - t0, 2), "rows": nrs,
    }
    t0 = time.time()
    rraw = evaluate_range(
        dsensors, dlake.values(SensorType.FLOAT), req,
        start=q0, end=q1, step_seconds=step, now=now,
    ).select("sensor_id", "t", "value").cache()
    nrr = rraw.count()
    report["dense_rate_raw"] = {
        "sec": round(time.time() - t0, 2), "rows": nrr,
    }
    rj = rserved.alias("s").join(
        rraw.alias("r"), ["sensor_id", "t"], "full"
    ).select(
        F.col("s.value").alias("sv"), F.col("r.value").alias("rv")
    )
    rbad = rj.filter(
        F.col("sv").isNull() | F.col("rv").isNull()
        | (F.col("sv") != F.col("rv"))
    ).count()
    assert rbad == 0, f"{rbad} rate windows differ (must be bit-equal)"
    report["dense_rate_served_equals_raw"] = True

    # Round 13: resets()/changes()/irate() served from the v3 ordered
    # per-bucket state — same dense fleet, bit-equal contract (integer
    # counters / the same two samples on both paths).
    for fname in ("resets", "changes", "irate"):
        feq = parse_extended(f"{fname}(dense[1d])", now=now)
        assert rollup_serveable(feq, 3600, q0, step, now=now), fname
        t0 = time.time()
        fs = evaluate_range_rollup(
            dstore, dsensors, feq, q0, q1, step, now=now
        ).select("sensor_id", "t", "value").cache()
        nfs = fs.count()
        report[f"dense_{fname}_rollup_served"] = {
            "sec": round(time.time() - t0, 2), "rows": nfs,
        }
        t0 = time.time()
        fr = evaluate_range(
            dsensors, dlake.values(SensorType.FLOAT), feq,
            start=q0, end=q1, step_seconds=step, now=now,
        ).select("sensor_id", "t", "value").cache()
        nfr = fr.count()
        report[f"dense_{fname}_raw"] = {
            "sec": round(time.time() - t0, 2), "rows": nfr,
        }
        fj = fs.alias("s").join(
            fr.alias("r"), ["sensor_id", "t"], "full"
        ).select(
            F.col("s.value").alias("sv"), F.col("r.value").alias("rv")
        )
        fbad = fj.filter(
            F.col("sv").isNull() | F.col("rv").isNull()
            | (F.col("sv") != F.col("rv"))
        ).count()
        assert fbad == 0, f"{fbad} {fname} windows differ"
        report[f"dense_{fname}_served_equals_raw"] = True
        fs.unpersist()
        fr.unpersist()

    # Round 13: OPT-IN approximate quantile vs the exact raw scan on
    # the same dense fleet — the wall gap is the IO ratio again
    # (K-sample buckets vs 60 samples/bucket), the value gap is the
    # sampling error the X-Approx header states (reported, not
    # asserted: the estimate is approximate BY CONTRACT).
    from sensapp_spark.query.rollup_serve import (
        evaluate_range_rollup,
        quantile_rollup_serveable,
    )
    from sensapp_spark.storage.qrollup import QuantileRollupStore

    qstore = QuantileRollupStore(dlake, grain_s=3600)
    t0 = time.time()
    qstore.refresh(SensorType.FLOAT)
    report["dense_quantile_store_rebuild_s"] = round(time.time() - t0, 1)
    qeq = parse_extended("quantile_over_time(0.95, dense[1d])", now=now)
    assert quantile_rollup_serveable(qeq, 3600, q0, step, now=now)
    t0 = time.time()
    qs = evaluate_range_rollup(
        qstore, dsensors, qeq, q0, q1, step, now=now
    ).select("sensor_id", "t", "value").cache()
    nqs = qs.count()
    report["dense_quantile_approx_served"] = {
        "sec": round(time.time() - t0, 2), "rows": nqs,
    }
    t0 = time.time()
    qr = evaluate_range(
        dsensors, dlake.values(SensorType.FLOAT), qeq,
        start=q0, end=q1, step_seconds=step, now=now,
    ).select("sensor_id", "t", "value").cache()
    nqr = qr.count()
    report["dense_quantile_exact_raw"] = {
        "sec": round(time.time() - t0, 2), "rows": nqr,
    }
    qj = qs.alias("s").join(
        qr.alias("r"), ["sensor_id", "t"], "inner"
    ).select(
        (F.abs(F.col("s.value") - F.col("r.value"))
         / F.greatest(F.abs("r.value"), F.lit(1e-12))).alias("relerr")
    ).agg(
        F.avg("relerr").alias("mean"), F.max("relerr").alias("max")
    ).collect()[0]
    report["dense_quantile_rel_error"] = {
        "mean": round(float(qj["mean"]), 5),
        "max": round(float(qj["max"]), 5),
        "k": QuantileRollupStore.K,
    }
    shutil.rmtree(DLAKE, ignore_errors=True)

    # Round 13: maintenance-driven schema upgrade cost — a v2-shaped
    # table (the 16 pre-r13 columns) on the 10× events lake reaches
    # the current schema through bounded month ticks; each tick's
    # wall is the cost a scheduler pays per tick.
    class _V2Store(RollupStore):
        SCHEMA = (
            "sensor_id string, bucket timestamp, cnt long, "
            "vsum double, vmin double, vmax double, "
            "ecnt long, esum double, emin double, emax double, "
            "tfirst timestamp, vfirst double, tlast timestamp, "
            "vlast double, vsum2 double, esum2 double"
        )
        SCHEMA_VERSION = 2
        VALUE_COLS = RollupStore.VALUE_COLS[:16]

    U_LAKE = LAKE + "_upgrade"
    shutil.rmtree(U_LAKE, ignore_errors=True)
    ulake = SensorLake(spark, U_LAKE)
    ulake.append_values(SensorType.FLOAT, ev.repartition(32))
    _V2Store(ulake, grain_s=3600).refresh(SensorType.FLOAT)
    ustore = RollupStore(ulake, grain_s=3600)
    ticks = []
    while True:
        t0 = time.time()
        rep = ustore.upgrade_tick(SensorType.FLOAT, max_months=1)
        ticks.append(round(time.time() - t0, 2))
        if rep["remaining"] == 0:
            break
    assert ustore.committed_schema(SensorType.FLOAT) == (
        RollupStore.SCHEMA_VERSION
    )
    report["upgrade_v2_to_v3_tick_walls_s"] = ticks
    shutil.rmtree(U_LAKE, ignore_errors=True)

    print(json.dumps(report, indent=2))
    shutil.rmtree(LAKE, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
