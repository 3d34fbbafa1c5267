"""Prometheus remote-write ingester (operator S5).

Reference src/ingestors/http/prometheus_write.rs:21-180:

* body is snappy-compressed protobuf ``WriteRequest``;
* the ``__name__`` label becomes the sensor name; remaining labels are
  kept (sorted); samples are Float; timestamps are **milliseconds**;
* series without ``__name__`` are an error; duplicate label names
  follow last-wins.

Decoding happens driver-side (bodies are request-scoped); the resulting
frames are Arrow-built local relations (``ingest/frames.py``). Both
codecs are in-repo pure Python (wire/protowire.py,
wire/snappy_codec.py) — no external deps.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession

from sensapp_spark.datamodel.sensor import sensor_uuid
from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType, value_schema
from sensapp_spark.ingest.csv_importer import IngestBatch
from sensapp_spark.ingest.frames import arrow_frame
from sensapp_spark.wire import snappy_codec
from sensapp_spark.wire.prompb import decode_write_request

NAME_LABEL = "__name__"


class RemoteWriteError(ValueError):
    pass


def ingest_remote_write(
    spark: SparkSession, body: bytes, compressed: bool = True
) -> IngestBatch:
    raw = snappy_codec.decompress(body) if compressed else body
    series = decode_write_request(raw)

    sensors: dict[str, tuple] = {}
    rows: list[tuple] = []
    for ts in series:
        labels = dict(ts.labels)  # last-wins for duplicates
        name = labels.pop(NAME_LABEL, None)
        if not name:
            raise RemoteWriteError(
                "Time series is missing the __name__ label"
            )
        uid = sensor_uuid(name, SensorType.FLOAT, None, labels)
        if uid not in sensors:
            sensors[uid] = (uid, name, SensorType.FLOAT.label, None, None, labels)
        for value, ts_ms in ts.samples:
            t = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) \
                + dt.timedelta(milliseconds=ts_ms)
            rows.append((uid, t, value))

    sensors_df = arrow_frame(spark, list(sensors.values()), SENSOR_SCHEMA)
    values = arrow_frame(spark, rows, value_schema(SensorType.FLOAT))
    return IngestBatch(sensors=sensors_df, values={SensorType.FLOAT: values})
