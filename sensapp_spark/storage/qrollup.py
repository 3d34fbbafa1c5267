"""Approximate ``quantile_over_time`` served from a MAINTAINED,
mergeable, oracle-replayable bottom-k value sample.

Exact quantiles are not mergeable — the quartet rollup
(storage/rollup.py) honestly sends ``quantile_over_time`` back to a
raw scan, which at 100 TB is the one dashboard staple still paying
full IO (round-12 verdict, missing #3). This store maintains, per
(sensor, bucket), a BOTTOM-K COORDINATED SAMPLE: the k samples whose
engine-portable 60-bit hash (md5 prefix of ``sensor_id:epoch_µs`` —
operators/sketches.py, bit-identical in DuckDB) is smallest. Because
the hash is uniform and depends only on the sample's identity, the k
kept samples are a uniform random — yet fully deterministic — sample
of the bucket, and the sketch is MERGEABLE: the bottom-k of a union
is the bottom-k of the concatenated bottom-k's (the KMV argument,
applied to value sampling instead of distinct counting). A window's
φ-quantile is then estimated as the linearly-interpolated quantile of
the merged sample (the Prometheus/DuckDB ``quantile_cont`` formula) —
standard bottom-k sampling error ~ O(1/√k) on the rank, EXACT
whenever the window holds ≤ k samples (the sample is then the whole
multiset).

Like the quartet store, an ``eqs`` edge sample (boundary-instant rows
only) makes the CLOSED window [t−R, t] fold from half-open buckets
without bias: full buckets contribute ``qs``, the boundary bucket
contributes only ``eqs``. Everything else — CAS commits, the
exactly-once cursor, affected-bucket recompute, month hardlinks —
is inherited unchanged from RollupStore.

This module keeps only the store. Serving lives with the quartet
store's in query/rollup_serve.py: ``quantile_windows`` folds these
buckets through the same bucket fan-out as ``range_windows``. It is
OPT-IN (``?approx=1``) and self-describing (``X-Approx`` response
header); the engine never silently substitutes an approximation for
the exact path (round-12 verdict task 6).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.storage.lake import MONTH_COL
from sensapp_spark.storage.rollup import RollupStore

__all__ = ["QuantileRollupStore"]


class QuantileRollupStore(RollupStore):
    """Bottom-k value-sample continuous aggregate; row =
    ``(sensor_id, bucket, qs, eqs, cnt)`` where qs/eqs are ≤K-element
    ``array<struct<h, v>>`` sorted by (h, v) and cnt is the bucket's
    non-null sample count (diagnostic + the exact-below-K witness)."""

    SCHEMA = (
        "sensor_id string, bucket timestamp, "
        "qs array<struct<h: bigint, v: double>>, "
        "eqs array<struct<h: bigint, v: double>>, cnt long"
    )
    SCHEMA_VERSION = 1
    KEYS = ("sensor_id", "bucket")
    VALUE_COLS = ("qs", "eqs", "cnt")
    _TABLE_SUFFIX = "quantile_"

    # Sample size per bucket: rank error ~ 1/√k → ~6% at k=256; the
    # stated lever for tighter dashboards. 256 × 16 B ≈ 4 KB/bucket.
    K = 256

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from sensapp_spark.operators.sketches import portable_hash

        val = F.col("value").cast("double")
        g_us = self.grain_s * 1_000_000
        edge = (F.unix_micros(F.col("time")) % F.lit(g_us)) == 0
        # Hash the sample IDENTITY (sensor:epoch-µs — integers format
        # identically in every engine; hashing the float value would
        # hang parity on float-to-string rendering). Duplicate
        # (sensor, time) samples share a hash; the (h, v) sort keeps
        # selection deterministic anyway.
        h = portable_hash(
            F.concat(
                F.col("sensor_id"), F.lit(":"),
                F.unix_micros(F.col("time")).cast("string"),
            )
        )
        enriched = rows.filter(val.isNotNull()).select(
            "sensor_id",
            self._bucket(F.col("time")).alias("bucket"),
            val.alias("__v"),
            h.alias("__h"),
            edge.alias("__e"),
        )
        part = Window.partitionBy("sensor_id", "bucket")
        w = part.orderBy("__h", "__v")
        # Edge rank from the SAME (h, v) sort (round-13 optimization:
        # one Sort instead of two — guide §2.4): the edge sample wants
        # the bottom-K edge rows by (h, v), and a running conditional
        # count over the shared ordering ranks edge rows identically
        # to a dedicated edge-keyed row_number (ties hold identical
        # (h, v) entries, so any tie permutation selects the same
        # multiset).
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sampled = enriched.withColumn(
            "__rn", F.row_number().over(w)
        ).withColumn(
            "__re",
            F.sum(F.when(F.col("__e"), F.lit(1)).otherwise(F.lit(0)))
            .over(run),
        )
        entry = F.struct(F.col("__h").alias("h"), F.col("__v").alias("v"))
        return (
            sampled.groupBy("sensor_id", "bucket")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__rn") <= self.K, entry)
                    )
                ).alias("qs"),
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__e") & (F.col("__re") <= self.K),
                            entry,
                        )
                    )
                ).alias("eqs"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .withColumn(MONTH_COL, F.date_format("bucket", "yyyy-MM"))
        )

    def read_folded(
        self,
        stype: SensorType,
        fold_grain_s: int,
        start: dt.datetime | None = None,
        end: dt.datetime | None = None,
        realtime: bool = False,
    ) -> DataFrame:
        """Coarser-grain sample reads without a second table: bottom-k
        of the union = bottom-k of the concatenated bottom-k's; the
        folded edge sample is the at-edge fine bucket's (a folded
        boundary instant IS that fine bucket's boundary instant)."""
        from sensapp_spark.storage.lake import _utc_naive

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
        at_edge = F.col("bucket") == folded
        out = (
            fine.groupBy("sensor_id", folded.alias("bucket"))
            .agg(
                F.slice(
                    F.array_sort(F.flatten(F.collect_list("qs"))),
                    1, self.K,
                ).alias("qs"),
                F.coalesce(
                    F.first(
                        F.when(at_edge, F.col("eqs")), ignorenulls=True
                    ),
                    F.array().cast(
                        "array<struct<h: bigint, v: double>>"
                    ),
                ).alias("eqs"),
                F.sum("cnt").alias("cnt"),
            )
        )
        if start is not None:
            out = out.filter(F.col("bucket") >= F.lit(start))
        if end is not None:
            out = out.filter(F.col("bucket") <= F.lit(end))
        return out
