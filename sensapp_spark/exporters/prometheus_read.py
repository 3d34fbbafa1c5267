"""Prometheus remote-read handler (operators P3/P4, X6).

Reference src/ingestors/http/prometheus_read.rs:105-233 and
src/parsing/prometheus/converter.rs:22-120:

* body: snappy protobuf ``ReadRequest``; per query: matchers
  (proto→internal, src/storage/query.rs:156-176), start/end ms, and
  ``numeric_only=true`` selection;
* response (SAMPLES): per query, one ``TimeSeries`` per sensor with
  labels ``__name__`` + sorted label pairs, samples cast to f64
  (Integer→f64, Numeric lossy f64; non-numeric series are skipped);
* samples are ordered by time; timestamps converted back to ms.

The scan/selection runs as the standard distributed Q1-Q9 pipeline;
only the response serialization is driver-side (as in the reference).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.operators.selection import (
    meta_probe_cols,
    probe_sensor_rows,
    query_samples,
    select_sensors,
)
from sensapp_spark.wire import snappy_codec
from sensapp_spark.wire.prompb import (
    ReadQuery,
    TimeSeries,
    decode_read_request,
    encode_read_response,
)

NUMERIC_TYPES = (SensorType.INTEGER, SensorType.NUMERIC, SensorType.FLOAT)

# (stype, sensor_ids or None) → that value table's scan, or None.
ValuesFor = Callable[[SensorType, "list[str] | None"], "DataFrame | None"]


def execute_read_queries(
    queries: list[ReadQuery],
    sensors: DataFrame,
    values_for: ValuesFor,
    limit: int | None = None,
) -> list[list[TimeSeries]]:
    """Run each query through the Q1-Q9 pipeline over the three numeric
    value tables and assemble protobuf-ready series.
    ``values_for(stype, sensor_ids)`` returns the scan of one value
    table — narrowed to ``sensor_ids`` when they are given (the probed
    ids, so the zone map can skip files) — or None for a type with
    nothing to scan (the gateway's never-committed tables), which skips
    that type's plan entirely."""
    return [
        _execute_one_query(q, sensors, values_for, limit) for q in queries
    ]


def _execute_one_query(
    q: ReadQuery,
    sensors: DataFrame,
    values_for: ValuesFor,
    limit: int | None = None,
) -> list[TimeSeries]:
    """One query's series. A match under the probe cap scans each
    numeric type by its probed ids (a type with none is never planned)
    and labels the series on the driver from the probed rows; a larger
    match keeps the broadcast plan and reads the labels from its join."""
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    start = epoch + dt.timedelta(milliseconds=q.start_ms)
    end = epoch + dt.timedelta(milliseconds=q.end_ms)
    probed = probe_sensor_rows(
        select_sensors(sensors, q.matchers, numeric_only=True),
        extra_cols=meta_probe_cols(),
    )
    meta = {r.sensor_id: r for r in probed or ()}
    per_series: dict[str, TimeSeries] = {}
    for stype in NUMERIC_TYPES:
        rows = None
        if probed is not None:
            rows = [r for r in probed if r.type == stype.label]
            if not rows:
                continue
        vals = values_for(
            stype, None if rows is None else [r.sensor_id for r in rows]
        )
        if vals is None:
            continue
        out = query_samples(
            sensors, vals, q.matchers, start=start, end=end, limit=limit,
            numeric_only=True, probed=rows,
        ).select(
            "sensor_id",
            (F.unix_micros("time") / 1000).cast("long").alias("ts_ms"),
            F.col("value").cast("double").alias("value"),  # P4 lossy cast
            *([] if probed is not None else meta_probe_cols()),
        )
        # One collect per (query, type): the response holds the whole
        # query's series anyway, and a local iterator would launch one
        # job per result partition.
        for row in out.collect():
            series = per_series.get(row.sensor_id)
            if series is None:
                m = meta.get(row.sensor_id, row)
                labels = [("__name__", m.name)] + sorted(
                    map(tuple, m.labels or ())
                )
                series = per_series[row.sensor_id] = TimeSeries(labels=labels)
            series.samples.append((row.value, row.ts_ms))
    return [per_series[k] for k in sorted(per_series)]


def handle_read_request(
    body: bytes,
    sensors: DataFrame,
    values_for: ValuesFor,
    compressed: bool = True,
) -> bytes:
    """ReadRequest bytes → snappy-compressed SAMPLES ReadResponse bytes."""
    raw = snappy_codec.decompress(body) if compressed else body
    queries, _accepted = decode_read_request(raw)
    results = execute_read_queries(queries, sensors, values_for)
    response = encode_read_response(results)
    return snappy_codec.compress(response)


def iter_read_request_streamed(
    body: bytes,
    sensors: DataFrame,
    values_for: ValuesFor,
    compressed: bool = True,
):
    """ReadRequest bytes → STREAMED_XOR_CHUNKS response (operator X7),
    one framed ``ChunkedReadResponse`` message per non-empty query,
    yielded AS each query executes, so the HTTP layer can stream frames
    while later queries are still running and driver memory is bounded
    by a single query's series (the frame granularity the wire format
    exists for — stream_writer.rs frames per query and skips empty
    ones).

    Frame format (reference src/parsing/prometheus/stream_writer.rs:7-13):
    uvarint message length + 4-byte big-endian CRC32-Castagnoli of the
    message + protobuf ``ChunkedReadResponse`` {1: repeated
    ChunkedSeries{1: labels, 2: Chunk{1: min_ms, 2: max_ms, 3: type=1
    (XOR), 4: data}}, 2: query_index}. Each series carries one Gorilla
    XOR chunk."""
    from sensapp_spark.wire.protowire import Writer, encode_varint
    from sensapp_spark.wire.xorchunk import crc32c, encode_xor_chunk

    raw = snappy_codec.decompress(body) if compressed else body
    queries, _accepted = decode_read_request(raw)
    for query_index, q in enumerate(queries):
        series_list = _execute_one_query(q, sensors, values_for)
        if not series_list:
            continue  # stream_writer.rs:27-39
        w = Writer()
        for ts in series_list:
            sw = Writer()
            for name, value in ts.labels:
                sw.message(1, Writer().string(1, name).string(2, value))
            samples = [(ts_ms, v) for v, ts_ms in ts.samples]
            chunk = (
                Writer()
                .varint(1, samples[0][0])
                .varint(2, samples[-1][0])
                .varint(3, 1)  # Encoding::XOR
                .bytes_field(4, encode_xor_chunk(samples))
            )
            sw.message(2, chunk)
            w.message(1, sw)
        w.varint(2, query_index)
        msg = bytes(w)
        yield encode_varint(len(msg)) + crc32c(msg).to_bytes(4, "big") + msg
