"""Catalog aggregates — the reference's only GROUP BY operators (C1-C4).

* ``metrics_summary`` — per (name, type): MIN(unit), COUNT(DISTINCT
  sensor_id), sorted distinct label keys. Reference:
  src/storage/sqlite/migrations/20250819144000_add_metrics_summary_view.sql:3-16
  (PG variant uses ARRAY_AGG(DISTINCT …); ClickHouse materializes it as an
  AggregatingMergeTree MV — in Spark it is a cheap recompute-on-read view
  because the sensors dimension is small).
* ``series_list`` — sensor listing with Prometheus-style series id
  ``name{k="v",…}`` (reference src/ingestors/http/crud.rs:405-414).

Scale: these aggregate the *dimension* table only — never the value tables —
so they are trivially cheap at any scale; partial aggregation (map-side
combine) happens automatically for the distinct counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.ingest.frames import arrow_frame
from sensapp_spark.operators.matchers import LabelMatcher, matchers_predicate


def metrics_summary(sensors: DataFrame) -> DataFrame:
    """Operator C1: GROUP BY (name, type) catalog view."""
    return (
        sensors.select(
            "name",
            "type",
            "unit",
            "sensor_id",
            F.map_keys("labels").alias("__keys"),
        )
        .groupBy("name", "type")
        .agg(
            F.min("unit").alias("unit"),
            F.countDistinct("sensor_id").alias("series_count"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("__keys")))
            ).alias("label_keys"),
        )
    )


def series_id(name_col="name", labels_col="labels"):
    """Prometheus-style id ``name{k="v",…}`` with keys sorted
    (reference crud.rs:405-414)."""
    kv = F.transform(
        F.array_sort(F.map_entries(F.col(labels_col))),
        lambda e: F.concat(e["key"], F.lit('="'), e["value"], F.lit('"')),
    )
    return F.concat(
        F.col(name_col), F.lit("{"), F.array_join(kv, ","), F.lit("}")
    )


def series_list(
    sensors: DataFrame,
    metric: str | None = None,
    matchers: list[LabelMatcher] | None = None,
) -> DataFrame:
    """Operator C4: list series, optional metric-name filter and selector."""
    out = sensors
    if metric is not None:
        out = out.filter(F.col("name") == metric)
    if matchers:
        out = out.filter(matchers_predicate(matchers))
    return out.withColumn("series", series_id())


def sensor_catalog(sensors: DataFrame) -> DataFrame:
    """Operator C2: the ``sensor_catalog_view`` projection. The reference
    joins sensors⋈units (src/storage/sqlite/migrations/
    20250819143000_add_sensor_catalog_view.sql:2-11); this engine's
    dimension is already denormalized, so the view is a projection."""
    return sensors.select(
        "sensor_id", "name", "type",
        F.col("unit").alias("unit_name"),
        F.col("unit_description"),
        "labels",
    )


def label_names(sensors: DataFrame) -> DataFrame:
    """Beyond-reference (Prometheus HTTP API ``/api/v1/labels``): sorted
    distinct label keys across all series, plus the reserved
    ``__name__``. Dimension-only aggregate — per-row ``map_keys`` then a
    distinct over short strings."""
    keys = sensors.select(F.explode(F.map_keys("labels")).alias("label"))
    reserved = arrow_frame(
        sensors.sparkSession, [("__name__",)], "label string"
    )
    return keys.union(reserved).distinct().orderBy("label")


def label_values(sensors: DataFrame, label: str) -> DataFrame:
    """Beyond-reference (Prometheus ``/api/v1/label/<name>/values``):
    sorted distinct values of one label; ``__name__`` yields metric
    names. Series lacking the label contribute nothing (Prometheus
    semantics — absent is not empty-string here)."""
    if label == "__name__":
        col = F.col("name")
    else:
        col = F.element_at("labels", F.lit(label))
    return (
        sensors.select(col.alias("value"))
        .filter(F.col("value").isNotNull())
        .distinct()
        .orderBy("value")
    )


def metrics_list(
    sensors: DataFrame,
    name_contains: str | None = None,
    name_regex: str | None = None,
    sensor_type: str | None = None,
) -> DataFrame:
    """Operator C3: /metrics listing with filters
    (reference src/ingestors/http/crud.rs:228-257)."""
    out = metrics_summary(sensors)
    if name_contains is not None:
        out = out.filter(
            F.lower(F.col("name")).contains(name_contains.lower())
        )
    if name_regex is not None:
        out = out.filter(F.col("name").rlike(name_regex))
    if sensor_type is not None:
        out = out.filter(F.col("type") == sensor_type)
    return out
