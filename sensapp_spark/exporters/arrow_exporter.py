"""Arrow IPC exporters (operator X5).

Reference shapes:

* single (src/exporters/arrow/mod.rs:224-250): schema
  ``(timestamp: Timestamp(µs), value: <native type>)``;
* multi "long" (arrow/mod.rs:33-104): ``(timestamp, sensor_id,
  sensor_name, value: Utf8-stringified, type, labels: JSON-string)``.

The single layout is Spark 4's zero-copy ``DataFrame.toArrow()``. The
multi layout (Arrow IPC, and the same columns as Parquet) is assembled
with pyarrow from ``(ts_us, 5×string)`` row tuples of
:func:`multi_row_frame`: :func:`iter_arrow_from_rows` and
:func:`iter_parquet_from_rows` take any row iterable, so the gateway
builds a small body from peeked rows and streams a large one from the
live local iterator with the same code.
"""

from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.ipc as ipc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.exporters.csv_exporter import local_rows
from sensapp_spark.exporters.text import TYPE_TEXT, value_text


def _ipc_bytes(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    with ipc.new_file(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


def to_arrow_single(df: DataFrame, sensor_type: SensorType) -> bytes:
    """``(time, value)`` in native type, time-ordered."""
    out = df.orderBy("time").select(
        F.col("time").alias("timestamp"), "value"
    )
    return _ipc_bytes(out.toArrow())


# Field nullability is what Spark's toArrow() gives the multi layout
# (type and labels are non-null constants/coalesces). The IPC bytes
# assembled from this schema are pinned by the gateway's golden files.
MULTI_ARROW_SCHEMA = pa.schema([
    pa.field("timestamp", pa.timestamp("us", tz="UTC")),
    pa.field("sensor_id", pa.string()),
    pa.field("sensor_name", pa.string()),
    pa.field("value", pa.string()),
    pa.field("type", pa.string(), nullable=False),
    pa.field("labels", pa.string(), nullable=False),
])


class _ChunkSink(io.RawIOBase):
    """File-like sink that captures writes into a list so incremental
    framing (IPC blocks, parquet row groups) can be yielded as HTTP
    chunks as they are produced."""

    def __init__(self):
        self.chunks: list[bytes] = []

    def writable(self):
        return True

    def write(self, b):
        self.chunks.append(bytes(b))
        return len(b)

    def drain(self) -> bytes:
        out = b"".join(self.chunks)
        self.chunks.clear()
        return out


def _row_batch(buf: list[tuple]) -> pa.RecordBatch:
    """One RecordBatch from buffered (ts_us, 5×string) row tuples. The
    timestamp travels as JVM-computed epoch micros (int64) and is cast
    to ``timestamp[us, UTC]`` in Arrow, so the values are
    tz-conversion-free: the same instants Spark's ``toArrow`` gives."""
    schema = MULTI_ARROW_SCHEMA
    cols = list(zip(*buf))
    ts = pa.array(cols[0], type=pa.int64()).cast(schema.field(0).type)
    arrays = [ts] + [
        pa.array(cols[i], type=pa.string()) for i in range(1, 6)
    ]
    return pa.record_batch(arrays, schema=schema)


def multi_row_frame(df: DataFrame, sensor_type: SensorType) -> DataFrame:
    """The ordered multi layout (long, stringified values, JSON labels)
    as ``(ts_us, 5×string)`` rows — what :func:`_row_batch` assembles.
    The timestamp travels as JVM-computed epoch micros. The gateway
    peeks it with one bounded collect; :func:`multi_rows` streams it."""
    return df.orderBy("sensor_id", "time").select(
        F.unix_micros("time").alias("ts_us"),
        "sensor_id",
        F.col("name").alias("sensor_name"),
        value_text(F.col("value"), sensor_type).alias("value"),
        F.lit(TYPE_TEXT[sensor_type]).alias("type"),
        F.coalesce(F.to_json("labels"), F.lit("{}")).alias("labels"),
    )


def multi_rows(df: DataFrame, sensor_type: SensorType):
    """Bounded-memory row iterator for the multi layout
    (``csv_exporter.local_rows``: one prefetched partition in flight,
    closed with this generator)."""
    return local_rows(multi_row_frame(df, sensor_type))


def _batches_from_rows(rows, chunk_rows: int):
    """``chunk_rows``-sized RecordBatches from any row-tuple iterable;
    closes it on exhaustion or generator close."""
    try:
        buf: list[tuple] = []
        for row in rows:
            buf.append(row)
            if len(buf) >= chunk_rows:
                yield _row_batch(buf)
                buf.clear()
        if buf:
            yield _row_batch(buf)
    finally:
        close = getattr(rows, "close", None)
        if close is not None:
            close()


def iter_arrow_from_rows(rows, chunk_rows: int = 8192):
    """Bounded-memory generator of Arrow IPC *file* bytes from any
    row-tuple iterable: the IPC framing (magic, schema, batches,
    footer) is flushed incrementally through a chunk-capturing sink —
    the driver never holds more than one batch. THE Arrow assembler:
    :func:`arrow_multi_bytes_from_rows` joins it over peeked rows, and
    the gateway streams it over :func:`multi_rows`."""
    sink = _ChunkSink()
    writer = ipc.new_file(sink, MULTI_ARROW_SCHEMA)
    batches = _batches_from_rows(rows, chunk_rows)
    try:
        for batch in batches:
            writer.write_batch(batch)
            yield sink.drain()
        writer.close()
        if sink.chunks:
            yield sink.drain()
    finally:
        batches.close()


def arrow_multi_bytes_from_rows(rows: list) -> bytes:
    """The complete IPC file for buffered row tuples, written as one
    record batch (a schema-only file for no rows)."""
    return b"".join(iter_arrow_from_rows(rows, max(1, len(rows))))


def iter_parquet_from_rows(rows, chunk_rows: int = 8192):
    """Bounded-memory generator of Parquet file bytes from any
    row-tuple iterable: one row group per ``chunk_rows`` batch, framed
    incrementally by ``pq.ParquetWriter`` over the same chunk-capturing
    sink as the Arrow path, so a near-limit parquet download never
    materializes the table on the driver. The gateway joins it over
    peeked rows (``chunk_rows=len(rows)``: one row group) for a small
    body and streams it over :func:`multi_rows` for a large one."""
    import pyarrow.parquet as pq

    sink = _ChunkSink()
    writer = pq.ParquetWriter(sink, MULTI_ARROW_SCHEMA, compression="zstd")
    batches = _batches_from_rows(rows, chunk_rows)
    try:
        for batch in batches:
            writer.write_table(pa.Table.from_batches([batch]))
            yield sink.drain()
        writer.close()
        if sink.chunks:
            yield sink.drain()
    finally:
        batches.close()
