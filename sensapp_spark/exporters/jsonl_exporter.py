"""JSONL exporter (operator X4) — one JSON object per line.

Reference src/exporters/jsonl.rs:25-160: keys are alphabetical (serde_json
BTreeMap): ``labels, sensor_name, sensor_uuid, timestamp, type, value``;
Location rows emit ``latitude``/``longitude`` instead of ``value``;
Numeric is serialized as a string, Blob as base64, Json inline.

Formatting runs JVM-side with ``to_json`` over an alphabetically-ordered
struct, matching serde's key order byte-for-byte for the scalar types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.exporters.text import TYPE_TEXT, rfc3339_col


def lines_jsonl(df: DataFrame, sensor_type: SensorType) -> DataFrame:
    """``(sensor_id, time, value, name, labels)`` → one JSON text per row."""
    labels = F.coalesce(
        F.col("labels"),
        F.create_map().cast("map<string,string>"),
    )
    base = {
        "labels": labels,
        "sensor_name": F.col("name"),
        "sensor_uuid": F.col("sensor_id"),
        "timestamp": rfc3339_col(F.col("time")),
        "type": F.lit(TYPE_TEXT[sensor_type]),
    }
    if sensor_type is SensorType.LOCATION:
        fields = dict(base)
        fields["latitude"] = F.col("value.latitude")
        fields["longitude"] = F.col("value.longitude")
    elif sensor_type is SensorType.NUMERIC:
        fields = dict(base)
        # Numeric serialized as exact string (jsonl.rs:63-77).
        from sensapp_spark.exporters.text import value_text

        fields["value"] = value_text(F.col("value"), sensor_type)
    elif sensor_type is SensorType.BLOB:
        fields = dict(base)
        fields["value"] = F.base64(F.col("value"))
    else:
        fields = dict(base)
        fields["value"] = F.col("value")

    if sensor_type is SensorType.JSON:
        # The value is already JSON text; splice it in raw so it nests as an
        # object, like serde's json! of a Value (jsonl.rs:131-146). "value"
        # sorts last alphabetically, so append it before the closing brace.
        fields.pop("value", None)
        head = F.to_json(F.struct(*[fields[k].alias(k) for k in sorted(fields)]))
        line = F.concat(
            F.substring(head, F.lit(1), F.length(head) - 1),
            F.lit(',"value":'),
            F.col("value"),
            F.lit("}"),
        )
    else:
        line = F.to_json(F.struct(*[fields[k].alias(k) for k in sorted(fields)]))
    return df.orderBy("sensor_id", "time").select(line.alias("line"))


def write_jsonl(df: DataFrame, sensor_type: SensorType, path: str) -> None:
    """Distributed JSONL export: one text file per partition; a billion-row
    export never materializes on the driver."""
    lines_jsonl(df, sensor_type).write.mode("overwrite").text(path)
