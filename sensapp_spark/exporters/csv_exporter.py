"""CSV exporters (operators X2 single, X3 multi/long).

Row formatting is JVM-side (`lines_*` return a DataFrame of formatted
lines). Three driver-side assembly strategies, by result size:

* `to_csv_*` — full-collect into one string (what the reference's
  exporters do, src/exporters/csv.rs); right for small results. The
  multi layout collects `multi_parts` (formatted fixed columns plus
  escaped label cells) and derives the header's label keys from the
  same rows, so it is one Spark action.
* `iter_csv_*` — bounded-memory generators over ``toLocalIterator``:
  the driver holds one chunk (and one prefetched partition) at a time.
  The HTTP gateway first peeks ``threshold+1`` rows with one bounded
  collect and assembles small results from them; only results above
  its threshold re-execute through these streams, so a near-limit
  export (the reference caps at 10M rows, src/storage/mod.rs:15-17)
  never materializes a multi-GB string.
* `write_csv_multi` — fully distributed `df.write.text`, no driver
  data path at all; for offline exports beyond HTTP scale.

Reference shapes:

* single (src/exporters/csv.rs:16-118): header ``timestamp,value``
  (Location: ``timestamp,latitude,longitude``), RFC3339 timestamps, CSV
  quoting for strings, JSON always quoted, Blob base64.
* multi (src/exporters/csv.rs:125-171): long layout
  ``timestamp,sensor_id,sensor_name,value,type[,<label keys sorted>…]``;
  label keys are the union across sensors, missing label → empty cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.exporters.text import (
    TYPE_TEXT,
    csv_escape,
    rfc3339_col,
    value_text,
)


def _single_line(df: DataFrame, sensor_type: SensorType) -> F.Column:
    ts = rfc3339_col(F.col("time"))
    if sensor_type is SensorType.LOCATION:
        return F.concat_ws(
            ",", ts, F.col("value.latitude").cast("string"),
            F.col("value.longitude").cast("string"),
        )
    if sensor_type in (SensorType.STRING, SensorType.JSON):
        # JSON is always quoted in the reference (csv.rs:90-103); strings
        # quoted only when needed (csv.rs:53-66).
        txt = F.col("value")
        if sensor_type is SensorType.JSON:
            return F.concat_ws(
                ",", ts,
                F.concat(F.lit('"'), F.regexp_replace(txt, '"', '""'), F.lit('"')),
            )
        return F.concat_ws(",", ts, csv_escape(txt))
    return F.concat_ws(",", ts, value_text(F.col("value"), sensor_type))


def lines_single(df: DataFrame, sensor_type: SensorType) -> DataFrame:
    """Formatted data lines (no header), in time order."""
    return (
        df.orderBy("time")
        .select(_single_line(df, sensor_type).alias("line"))
    )


def csv_header_single(sensor_type: SensorType) -> str:
    if sensor_type is SensorType.LOCATION:
        return "timestamp,latitude,longitude"
    return "timestamp,value"


def to_csv_single(df: DataFrame, sensor_type: SensorType) -> str:
    lines = [r.line for r in lines_single(df, sensor_type).collect()]
    return "\n".join([csv_header_single(sensor_type)] + lines) + "\n"


CHUNK_ROWS = 8192


def chunk_lines(line_iter, header: str | None = None,
                chunk_rows: int = CHUNK_ROWS):
    """Yield an optional header, then lines from any string iterator in
    ``chunk_rows`` batches — THE single chunked-assembly implementation
    (the exporters' streaming variants and the gateway's peek-ahead
    continuation both use it, so the streamed-bytes-equal-full-collect
    guarantee lives in one place). Closes ``line_iter`` on exhaustion
    or generator close, so an abandoned Spark local iterator releases
    its serving thread instead of lingering until GC."""
    try:
        if header is not None:
            yield header + "\n"
        buf: list[str] = []
        for line in line_iter:
            buf.append(line)
            if len(buf) >= chunk_rows:
                yield "\n".join(buf) + "\n"
                buf.clear()
        if buf:
            yield "\n".join(buf) + "\n"
    finally:
        close = getattr(line_iter, "close", None)
        if close is not None:
            close()


def row_lines(lines: DataFrame):
    """Per-line string iterator over a formatted-lines frame, with the
    underlying Spark local iterator closed on exhaustion or generator
    close (no serving thread lingering until GC).

    ``toLocalIterator(prefetchPartitions=True)`` bounds driver memory to
    one in-flight partition plus one prefetched — after the `orderBy`,
    partitions are range-sorted, so sequential iteration preserves the
    global order."""
    rows = lines.toLocalIterator(prefetchPartitions=True)
    try:
        for r in rows:
            yield r.line
    finally:
        close = getattr(rows, "close", None)
        if close is not None:
            close()


def _iter_chunks(lines: DataFrame, header: str, chunk_rows: int):
    """Chunked lines of a formatted-lines frame; concatenated chunks are
    byte-identical to the full-collect assembly."""
    return chunk_lines(row_lines(lines), header, chunk_rows)


def iter_csv_single(df: DataFrame, sensor_type: SensorType,
                    chunk_rows: int = CHUNK_ROWS):
    """Bounded-memory generator form of :func:`to_csv_single`."""
    return _iter_chunks(
        lines_single(df, sensor_type), csv_header_single(sensor_type),
        chunk_rows,
    )


def multi_label_keys(df: DataFrame) -> list[str]:
    """Union of label keys across the exported sensors, sorted
    (csv.rs:130-140). One tiny aggregation over the already-selected rows."""
    row = df.select(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(F.map_keys("labels"))))
        ).alias("keys")
    ).first()
    return list(row.keys) if row and row.keys else []


def csv_multi_header(label_keys: list[str]) -> str:
    """THE multi-layout header line (csv.rs:130-140 column order). The
    gateway's streamed peek-ahead path and both exporter assemblies use
    this one definition, so a column change can never desynchronize the
    streamed header from the collected one."""
    return ",".join(
        ["timestamp", "sensor_id", "sensor_name", "value", "type"]
        + label_keys
    )


def multi_parts(df: DataFrame, sensor_type: SensorType) -> DataFrame:
    """The long layout before the label columns are known, in export
    order: ``prefix`` is the formatted fixed columns, ``cells`` the
    row's labels with each value already CSV-escaped. A line is the
    prefix plus one ``,<cell>`` per header label key, ``""`` for a key
    the row lacks — :func:`lines_multi` joins in the JVM once the keys
    are known; :func:`assemble_multi` joins on the driver over
    collected parts, deriving the keys from the same rows, so a
    collected export is ONE Spark action."""
    ts = rfc3339_col(F.col("time"))
    if sensor_type is SensorType.LOCATION:
        value = F.concat(
            F.col("value.latitude").cast("string"), F.lit(";"),
            F.col("value.longitude").cast("string"),
        )
    else:
        value = csv_escape(value_text(F.col("value"), sensor_type))
    prefix = F.concat_ws(
        ",", ts, F.col("sensor_id"), csv_escape(F.col("name")), value,
        F.lit(TYPE_TEXT[sensor_type]),
    )
    cells = F.transform_values(
        "labels", lambda _k, v: csv_escape(F.coalesce(v, F.lit("")))
    )
    return df.orderBy("sensor_id", "time").select(
        prefix.alias("prefix"), cells.alias("cells")
    )


def lines_multi(df: DataFrame, sensor_type: SensorType,
                label_keys: list[str]) -> DataFrame:
    """Long-format lines for one typed result frame joined with metadata
    ``(sensor_id, time, value, name, labels)``."""
    return multi_parts(df, sensor_type).select(
        F.concat_ws(
            ",", "prefix",
            *[
                F.coalesce(F.element_at("cells", F.lit(k)), F.lit(""))
                for k in label_keys
            ],
        ).alias("line")
    )


def assemble_multi(parts: list) -> str:
    """The complete multi-layout CSV body from collected
    :func:`multi_parts` rows: header keys are the union of the rows'
    label keys, exactly :func:`multi_label_keys` over the same rows."""
    keys = sorted({k for r in parts if r.cells for k in r.cells})
    lines = [
        r.prefix + "".join("," + (r.cells or {}).get(k, "") for k in keys)
        for r in parts
    ]
    return "\n".join([csv_multi_header(keys)] + lines) + "\n"


def to_csv_multi(df: DataFrame, sensor_type: SensorType) -> str:
    """Multi-sensor export of one typed frame (the common case: a matcher
    query over one value table)."""
    return assemble_multi(multi_parts(df, sensor_type).collect())


def iter_csv_multi(df: DataFrame, sensor_type: SensorType,
                   chunk_rows: int = CHUNK_ROWS):
    """Bounded-memory generator form of :func:`to_csv_multi`."""
    keys = multi_label_keys(df)
    return _iter_chunks(
        lines_multi(df, sensor_type, keys), csv_multi_header(keys),
        chunk_rows,
    )


def write_csv_multi(
    df: DataFrame, sensor_type: SensorType, path: str
) -> list[str]:
    """Distributed long-format CSV export: formatted lines written as text
    files, one per partition — the scale path the reference lacks (its
    exporters build one giant String driver-side, SURVEY §7.4 risk 10).
    Returns the label-key header columns so callers can emit the header.
    """
    keys = multi_label_keys(df)
    lines_multi(df, sensor_type, keys).write.mode("overwrite").text(path)
    return keys
