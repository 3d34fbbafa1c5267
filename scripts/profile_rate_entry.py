"""Phase-attributed timing of the downsample_rate_1h registry entry
(guide §1: find where the 31 s actually goes before touching code).

Replays the entry's construction steps one by one with wall timing,
then times the noop execution of each arm separately.
"""

from __future__ import annotations

import datetime as dtm
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sensapp_spark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def t(label, fn):
    t0 = time.perf_counter()
    out = fn()
    print(f"{time.perf_counter() - t0:7.2f}s  {label}")
    sys.stdout.flush()
    return out


def main():
    import sensapp_spark.plans.testdata as td
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.plans.queries import _entry_lake_dir
    from sensapp_spark.query.rollup_serve import (
        _needed_stats,
        quantile_windows,
        range_windows,
    )
    from sensapp_spark.storage.lake import SensorLake
    from sensapp_spark.storage.qrollup import QuantileRollupStore
    from sensapp_spark.storage.rollup import RollupStore

    spark = get_spark(
        app_name="profile-rate", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    t("warmup scan", lambda: td.events_values(spark, SF).count())

    vals = td.events_values(spark, SF)
    thin = vals.filter(F.col("event_id") % 10 == 0)
    lake = SensorLake(spark, _entry_lake_dir("profile_rate", SF))
    store = RollupStore(lake, grain_s=3600)
    t("append half1", lambda: lake.append_values(
        SensorType.FLOAT,
        thin.filter(F.col("event_id") % 20 == 0).drop("event_id").coalesce(4),
    ))
    t("refresh 1", lambda: store.refresh(SensorType.FLOAT))
    t("append half2", lambda: lake.append_values(
        SensorType.FLOAT,
        thin.filter(F.col("event_id") % 20 != 0).drop("event_id").coalesce(4),
    ))
    t("refresh 2", lambda: store.refresh(SensorType.FLOAT))

    class _QK4(QuantileRollupStore):
        K = 4
        _TABLE_SUFFIX = "quantile4_"

    qstore = _QK4(lake, grain_s=3600)
    t("qstore refresh", lambda: qstore.refresh(SensorType.FLOAT))

    g_start = dtm.datetime(2024, 1, 10)
    g_end = dtm.datetime(2024, 1, 12)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    sensors = td.events_sensors(spark, SF)
    joined = vals.join(
        F.broadcast(sensors.select("sensor_id", "name")), "sensor_id"
    )
    t("arm down (raw groupBy)", lambda: noop(
        joined.groupBy("name", F.date_trunc("hour", "time")).agg(
            F.count("*"), F.round(F.avg("value"), 6),
            F.min("value"), F.max("value"),
        )
    ))
    t("arm rate (raw groupBy)", lambda: noop(
        vals.groupBy("sensor_id", F.date_trunc("hour", "time")).agg(
            F.max_by("value", "time"), F.min_by("value", "time"),
            F.max("time"), F.min("time"),
        )
    ))
    t("arm cont (store.read)", lambda: noop(store.read(SensorType.FLOAT)))
    win = range_windows(
        store, SensorType.FLOAT, start=g_start, end=g_end,
        step_seconds=3600, window_seconds=7200, realtime=False,
    )
    t("arm served (win all-stats)", lambda: noop(win))
    for func in ("resets", "irate"):
        wf = range_windows(
            store, SensorType.FLOAT, start=g_start, end=g_end,
            step_seconds=3600, window_seconds=7200, realtime=False,
            need=_needed_stats(func),
        )
        t(f"arm served_{func}", lambda wf=wf: noop(wf))
    qwin = quantile_windows(
        qstore, SensorType.FLOAT, start=g_start, end=g_end,
        step_seconds=3600, window_seconds=7200, phi=0.5, realtime=False,
    )
    t("arm served_quantile", lambda: noop(qwin))

    from sensapp_spark.plans.queries import QUERIES
    t("FULL entry build+noop", lambda: noop(
        QUERIES["downsample_rate_1h"](spark, SF)
    ))
    spark.stop()


if __name__ == "__main__":
    main()
