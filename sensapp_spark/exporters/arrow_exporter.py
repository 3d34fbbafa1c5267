"""Arrow IPC exporters (operator X5).

Reference shapes:

* single (src/exporters/arrow/mod.rs:224-250): schema
  ``(timestamp: Timestamp(µs), value: <native type>)``;
* multi "long" (arrow/mod.rs:33-104): ``(timestamp, sensor_id,
  sensor_name, value: Utf8-stringified, type, labels: JSON-string)``.

Spark 4's ``DataFrame.toArrow()`` is the zero-copy interchange path; the
IPC file bytes are produced with pyarrow on the driver. For large exports
use the returned tables' streaming writer or partitioned parquet instead.
"""

from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.ipc as ipc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
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


def _multi_frame(df: DataFrame, sensor_type: SensorType) -> DataFrame:
    return df.orderBy("sensor_id", "time").select(
        F.col("time").alias("timestamp"),
        "sensor_id",
        F.col("name").alias("sensor_name"),
        value_text(F.col("value"), sensor_type).alias("value"),
        F.lit(TYPE_TEXT[sensor_type]).alias("type"),
        F.coalesce(
            F.to_json("labels"), F.lit("{}")
        ).alias("labels"),
    )


def to_arrow_multi(df: DataFrame, sensor_type: SensorType) -> bytes:
    """Long layout with stringified values and JSON labels."""
    return _ipc_bytes(_multi_frame(df, sensor_type).toArrow())


def to_parquet_multi(df: DataFrame, sensor_type: SensorType) -> bytes:
    """The multi layout as a Parquet file (beyond-reference: the
    natural download format for a Spark-native engine — a consumer
    reads it straight back into any engine with types intact). Same
    columns as the Arrow export; ZSTD, single row group for the
    request-sized path (offline exports use the lake's partitioned
    writes instead)."""
    import pyarrow.parquet as pq

    table = _multi_frame(df, sensor_type).toArrow()
    sink = io.BytesIO()
    pq.write_table(table, sink, compression="zstd")
    return sink.getvalue()


# Field nullability matches Spark's toArrow() of _multi_frame exactly
# (type and labels are non-null constants/coalesces), so an IPC file
# assembled from this schema is BYTE-identical to the to_arrow_multi
# path — that identity is what lets the gateway's peek-ahead small path
# skip the second toArrow job (pinned by the gateway goldens).
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
    tz-conversion-free and match the ``toArrow`` path exactly."""
    schema = MULTI_ARROW_SCHEMA
    cols = list(zip(*buf))
    ts = pa.array(cols[0], type=pa.int64()).cast(schema.field(0).type)
    arrays = [ts] + [
        pa.array(cols[i], type=pa.string()) for i in range(1, 6)
    ]
    return pa.record_batch(arrays, schema=schema)


def multi_row_frame(df: DataFrame, sensor_type: SensorType) -> DataFrame:
    """The ordered multi-layout frame as ``(ts_us, 5×string)`` rows —
    what :func:`_row_batch` assembles. The gateway peeks it with one
    bounded collect; :func:`multi_rows` streams it."""
    return _multi_frame(df, sensor_type).select(
        F.unix_micros("timestamp").alias("ts_us"),
        "sensor_id", "sensor_name", "value", "type", "labels",
    )


def multi_rows(df: DataFrame, sensor_type: SensorType):
    """Bounded-memory row-tuple iterator for the multi layout
    (``toLocalIterator``, one prefetched partition in flight). Closing
    this generator closes the Spark local iterator — same
    abandoned-stream contract as row_lines/iter_senml
    (csv_exporter.row_lines)."""
    rows = multi_row_frame(df, sensor_type).toLocalIterator(
        prefetchPartitions=True
    )
    try:
        for row in rows:
            yield tuple(row)
    finally:
        close = getattr(rows, "close", None)
        if close is not None:
            close()


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


def arrow_multi_bytes_from_rows(rows: list[tuple]) -> bytes:
    """The complete single-batch IPC file for buffered row tuples —
    BYTE-identical to ``to_arrow_multi`` of the frame that produced
    them (schema nullability matched; empty input yields the same
    schema-only file ``toArrow`` produces), so the gateway's small
    path needs no second Spark job."""
    sink = io.BytesIO()
    with ipc.new_file(sink, MULTI_ARROW_SCHEMA) as writer:
        if rows:
            writer.write_batch(_row_batch(rows))
    return sink.getvalue()


def parquet_multi_bytes_from_rows(rows: list[tuple]) -> bytes:
    """The complete single-row-group Parquet file for buffered row
    tuples — same decoded content as ``to_parquet_multi`` of the frame
    that produced them (the parquet golden pins content, not bytes)."""
    import pyarrow.parquet as pq

    table = pa.Table.from_batches(
        [_row_batch(rows)] if rows else [], schema=MULTI_ARROW_SCHEMA
    )
    sink = io.BytesIO()
    pq.write_table(table, sink, compression="zstd")
    return sink.getvalue()


def iter_arrow_from_rows(rows, chunk_rows: int = 8192):
    """Bounded-memory generator of Arrow IPC *file* bytes from any
    row-tuple iterable: the IPC framing (magic, schema, batches,
    footer) is flushed incrementally through a chunk-capturing sink —
    the driver never holds more than one batch. The gateway's resumed
    peek-ahead path feeds this the buffered head + live iterator."""
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


def iter_arrow_multi(df: DataFrame, sensor_type: SensorType,
                     chunk_rows: int = 8192):
    """Streaming Arrow IPC for a frame: parses identically to
    :func:`to_arrow_multi` (same schema; N record batches instead
    of 1)."""
    return iter_arrow_from_rows(multi_rows(df, sensor_type), chunk_rows)


def iter_parquet_from_rows(rows, chunk_rows: int = 8192):
    """Bounded-memory generator of Parquet file bytes from any
    row-tuple iterable: one row group per ``chunk_rows`` batch, framed
    incrementally by ``pq.ParquetWriter`` over the same chunk-capturing
    sink as the Arrow path, so a near-limit parquet download never
    materializes the table on the driver."""
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


def iter_parquet_multi(df: DataFrame, sensor_type: SensorType,
                       chunk_rows: int = 8192):
    """Streaming Parquet for a frame: reads back with the same schema
    and rows as :func:`to_parquet_multi` (N row groups instead of 1)."""
    return iter_parquet_from_rows(multi_rows(df, sensor_type), chunk_rows)
