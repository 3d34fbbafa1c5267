"""Arrow IPC importer (operator S3).

Semantics follow reference src/importers/arrow.rs:26-296:

* the IPC file must have a ``timestamp`` column (Timestamp µs) and a
  ``value`` column; optional ``sensor_id`` (UUID string) and
  ``sensor_name`` columns name the series (default name "arrow_sensor");
* value type ↦ sensor type: Int64→Integer, Float64→Float,
  Decimal128→Numeric, Utf8→String, Boolean→Boolean,
  Struct{latitude,longitude}→Location, Binary→Blob (arrow.rs:143-296).

Arrow is Spark's native interchange format: the table converts to a
DataFrame without row-wise marshalling. Sensor names and per-row ids
are derived with ``pyarrow.compute`` on the driver, so building the
batch runs no Spark job; the value frame is cast to the lake's
``value_schema`` (µs UTC timestamps, the table's value type).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.ipc as ipc

from pyspark.sql import SparkSession

from sensapp_spark.datamodel.sensor import sensor_uuid
from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType, value_schema
from sensapp_spark.ingest.csv_importer import IngestBatch
from sensapp_spark.ingest.frames import arrow_frame

DEFAULT_SENSOR_NAME = "arrow_sensor"


class ArrowFormatError(ValueError):
    pass


def _sensor_type_of(field: pa.Field) -> SensorType:
    t = field.type
    if pa.types.is_int64(t):
        return SensorType.INTEGER
    if pa.types.is_float64(t) or pa.types.is_float32(t):
        return SensorType.FLOAT
    if pa.types.is_decimal(t):
        return SensorType.NUMERIC
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return SensorType.STRING
    if pa.types.is_boolean(t):
        return SensorType.BOOLEAN
    if pa.types.is_struct(t):
        names = {t.field(i).name for i in range(t.num_fields)}
        if {"latitude", "longitude"} <= names:
            return SensorType.LOCATION
        raise ArrowFormatError(f"Unsupported struct value type: {t}")
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return SensorType.BLOB
    raise ArrowFormatError(f"Unsupported Arrow value type: {t}")


def ingest_arrow(spark: SparkSession, ipc_bytes: bytes) -> IngestBatch:
    try:
        table = ipc.open_file(pa.BufferReader(ipc_bytes)).read_all()
    except pa.ArrowInvalid:
        # Fall back to stream format.
        try:
            table = ipc.open_stream(pa.BufferReader(ipc_bytes)).read_all()
        except pa.ArrowInvalid as e:
            raise ArrowFormatError(f"Not an Arrow IPC payload: {e}") from e
    return ingest_arrow_table(spark, table)


def ingest_arrow_table(spark: SparkSession, table: pa.Table) -> IngestBatch:
    names = set(table.column_names)
    if "timestamp" not in names:
        raise ArrowFormatError("Arrow import requires a 'timestamp' column")
    if "value" not in names:
        raise ArrowFormatError("Arrow import requires a 'value' column")
    ts_field = table.schema.field("timestamp")
    if not pa.types.is_timestamp(ts_field.type):
        raise ArrowFormatError(
            f"'timestamp' must be an Arrow timestamp, got {ts_field.type}"
        )
    stype = _sensor_type_of(table.schema.field("value"))

    if "sensor_name" in names:
        name_col = pc.cast(table.column("sensor_name"), pa.string())
        if name_col.null_count:
            raise ArrowFormatError("'sensor_name' has null entries")
        distinct = pc.unique(name_col)
    else:
        name_col = None
        distinct = pa.array([DEFAULT_SENSOR_NAME])
    # Distinct sensor names (small dim) → deterministic UUIDs on driver.
    dim_names = distinct.to_pylist()
    uuids = [sensor_uuid(name, stype, None, {}) for name in dim_names]
    sensors = arrow_frame(
        spark,
        [(uid, name, stype.label, None, None, {})
         for uid, name in zip(uuids, dim_names)],
        SENSOR_SCHEMA,
    )

    if "sensor_id" in names:
        # Respect provided series ids (reference keeps them, arrow.rs:75-141)
        ids = pc.cast(table.column("sensor_id"), pa.string())
    elif name_col is None:
        ids = pa.repeat(uuids[0], table.num_rows)
    else:
        ids = pa.array(uuids, pa.string()).take(
            pc.index_in(name_col, value_set=distinct)
        )
    vals = pa.table(
        [ids, table.column("timestamp"), table.column("value")],
        names=["sensor_id", "time", "value"],
    )
    return IngestBatch(
        sensors=sensors,
        values={stype: arrow_frame(spark, vals, value_schema(stype))},
    )
