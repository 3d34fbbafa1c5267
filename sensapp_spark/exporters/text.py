"""Shared formatting expressions for exporters — all pure Catalyst columns.

The reference formats exports driver-side with string building
(src/exporters/*.rs). Here every row is formatted JVM-side; only the final
concatenation (or a streamed ``toLocalIterator``) touches the driver, so an
export of a billion rows is a distributed job, not a driver OOM
(SURVEY §7.4 risk 10).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType


def rfc3339_col(ts: Column) -> Column:
    """RFC3339 text: seconds precision, fractional part trimmed of trailing
    zeros, ``+00:00`` suffix — the shape of hifitime's ``to_rfc3339``
    (reference src/infer/columns.rs:330-332 shows the golden form)."""
    # The fraction keeps its dot and loses the trailing zeros — the dot
    # too when nothing is left. A plain regexp, not ``nullif``: Spark 4
    # rewrites ``nullif`` into a ``With`` expression whose extra Project
    # between a Limit and its Sort stops the planner from fusing them
    # into one ``TakeOrderedAndProject`` (every export peek would run a
    # range-partitioned global sort instead).
    frac = F.regexp_replace(F.date_format(ts, ".SSSSSS"), r"\.?0+$", "")
    return F.concat(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
        frac,
        F.lit("+00:00"),
    )


def csv_escape(col: Column) -> Column:
    """CSV quoting: wrap in quotes (doubling inner quotes) when the value
    contains a comma, quote, or newline (reference src/exporters/csv.rs:53-66)."""
    needs = (
        col.contains(",") | col.contains('"') | col.contains("\n")
    )
    return F.when(
        needs, F.concat(F.lit('"'), F.regexp_replace(col, '"', '""'), F.lit('"'))
    ).otherwise(col)


def bool_text(col: Column) -> Column:
    return F.when(col, "true").otherwise("false")


def value_text(col: Column, sensor_type: SensorType) -> Column:
    """Stringify a typed value column the way the reference's exporters do:
    booleans lowercase, blobs base64, decimals exact text, location as two
    separate columns (handled by callers)."""
    if sensor_type is SensorType.BOOLEAN:
        return bool_text(col)
    if sensor_type is SensorType.BLOB:
        return F.base64(col)
    if sensor_type is SensorType.NUMERIC:
        # Exact decimal text without trailing zeros (rust_decimal prints
        # the stored scale; we normalize to trimmed form and test both
        # sides of oracle comparisons with the same rule).
        return F.regexp_replace(
            F.regexp_replace(col.cast("string"), r"(\.\d*?)0+$", "$1"),
            r"\.$", "",
        )
    if sensor_type is SensorType.FLOAT:
        # Spark casts 2.0 → "2.0"; serde/ryu prints 2.0 the same way.
        return col.cast("string")
    return col.cast("string")


TYPE_TEXT = {
    SensorType.INTEGER: "integer",
    SensorType.NUMERIC: "numeric",
    SensorType.FLOAT: "float",
    SensorType.STRING: "string",
    SensorType.BOOLEAN: "boolean",
    SensorType.LOCATION: "location",
    SensorType.JSON: "json",
    SensorType.BLOB: "blob",
}
