"""SenML exporter (operator X1) — RFC 8428 JSON records.

Reference src/exporters/senml.rs:16-157:

* per sensor: a base record ``{bn: uuid, _name, bt: first-ts-seconds,
  bver: 10, bu?: unit, _labels?: {...}}`` merged with the first sample
  record; following samples carry relative time ``t`` (seconds from
  ``bt``, 0 for the first);
* value keys: Integer/Float → ``v``, Numeric → ``v`` as f64,
  String → ``vs``, Boolean → ``vb``, Blob → ``vd`` (base64), Json →
  ``vs`` of the JSON text, Location → two records per sample with
  ``n: "lat"|"lon"`` (senml.rs:280-298);
* multi-sensor: records concatenated; ``bver`` kept only on the very
  first record of the array (senml.rs:24-44);
* times are millisecond-truncated (``datetime_to_ms``, senml.rs:7-9).

SenML is inherently a per-sensor sequential document, so final assembly
is driver-side (as in the reference); sorting and time arithmetic run in
Spark first (:func:`ordered_rows`), and :func:`iter_senml` assembles the
JSON array from any ordered row iterable.
"""

from __future__ import annotations

import base64
import json
from itertools import groupby, islice
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.exporters.csv_exporter import CHUNK_ROWS


def _sample_records(sensor_type: SensorType, row, rel: float) -> list[dict]:
    t = rel if rel else 0
    if sensor_type is SensorType.LOCATION:
        return [
            {"t": t, "n": "lat", "v": row.value.latitude},
            {"t": t, "n": "lon", "v": row.value.longitude},
        ]
    if sensor_type in (SensorType.INTEGER, SensorType.FLOAT):
        entry = ("v", row.value)
    elif sensor_type is SensorType.NUMERIC:
        entry = ("v", float(row.value))  # lossy f64, like senml.rs:197-205
    elif sensor_type is SensorType.STRING:
        entry = ("vs", row.value)
    elif sensor_type is SensorType.BOOLEAN:
        entry = ("vb", row.value)
    elif sensor_type is SensorType.JSON:
        v = row.value if isinstance(row.value, str) else json.dumps(row.value)
        entry = ("vs", v)
    elif sensor_type is SensorType.BLOB:
        raw = row.value if isinstance(row.value, (bytes, bytearray)) else bytes(row.value)
        entry = ("vd", base64.b64encode(raw).decode())
    else:  # pragma: no cover
        raise ValueError(f"no SenML mapping for {sensor_type}")
    return [{"t": t, entry[0]: entry[1]}]


def ordered_rows(df: DataFrame) -> DataFrame:
    return df.orderBy("sensor_id", "time").select(
        "sensor_id", "name", "unit", "labels",
        (F.unix_micros("time") / 1000).cast("long").alias("t_ms"),
        "value",
    )


def records_from_rows(rows, sensor_type: SensorType):
    """SenML records from (sensor_id, time)-ordered rows — works over any
    iterable, so the same logic backs the peeked body and the stream.
    Fully streaming: only the sensor's FIRST row is held (for
    base-record assembly); every later sample is emitted as it arrives,
    so driver memory stays O(1) in samples even for a single
    multi-million-sample sensor. A sensor's samples can span a Spark
    partition boundary; ``groupby`` handles that since the rows are
    globally ordered."""
    first_sensor = True
    for _, group in groupby(rows, key=lambda r: r.sensor_id):
        head = next(group)
        base_ms = head.t_ms
        base: dict[str, Any] = {"bn": head.sensor_id, "_name": head.name,
                                "bt": base_ms / 1000.0}
        if first_sensor:
            base["bver"] = 10  # only the very first record keeps bver
            first_sensor = False
        if head.unit:
            base["bu"] = head.unit
        if head.labels:
            base["_labels"] = dict(head.labels)

        head_recs = _sample_records(sensor_type, head, 0)
        base.update(head_recs[0])
        yield base
        yield from head_recs[1:]
        for r in group:
            yield from _sample_records(
                sensor_type, r, (r.t_ms - base_ms) / 1000.0
            )


# Sorted keys, compact separators and ASCII escapes (Flask's jsonify
# settings): the SenML bytes the gateway goldens pin.
_ENCODER = json.JSONEncoder(sort_keys=True, separators=(",", ":"))


def iter_senml(rows, sensor_type: SensorType, chunk_rows: int = CHUNK_ROWS):
    """The SenML JSON array (``[...]`` plus a newline) as text chunks of
    ``chunk_rows`` records, from any (sensor_id, time)-ordered
    :func:`ordered_rows` iterable — THE SenML assembler: the gateway
    joins it over peeked rows for a small body and streams it over the
    live local iterator for a large one. Each chunk is encoded in one
    call, and the driver holds one chunk of records at a time. Closes
    ``rows`` on exhaustion or generator close, so an abandoned stream
    releases its serving thread immediately."""
    try:
        records = records_from_rows(rows, sensor_type)
        sep = "["
        while batch := list(islice(records, chunk_rows)):
            yield sep + _ENCODER.encode(batch)[1:-1]
            sep = ","
        yield "[]\n" if sep == "[" else "]\n"
    finally:
        close = getattr(rows, "close", None)
        if close is not None:
            close()
