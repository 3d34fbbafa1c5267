"""InfluxDB line-protocol importer (operator S4).

Semantics follow reference src/ingestors/http/influxdb.rs:

* each (measurement, field) pair becomes a sensor named
  ``urlencode(measurement) + ' ' + urlencode(field_key)``
  (influxdb.rs:53-61, 265) — space is safe as a separator because it is
  not allowed unescaped in either part;
* tags become labels; ``influxdb_bucket``/``influxdb_org`` labels are
  added when provided (influxdb.rs:241-258);
* field value types: i64/u64 → Integer (u64 overflow is an error),
  f64 → Float, string → String, bool → Boolean; ``with_numeric`` routes
  all numbers to Numeric/Decimal (influxdb.rs:63-125);
* precision ∈ {ns, us, ms, s}, default ns (influxdb.rs:129-152).

The parser is pure Python (the wire format is escape-heavy and
request-scoped); ``ingest_lines`` builds Arrow-built local frames from
parsed points (``ingest/frames.py``). For file-scale replays,
``parse_line`` can run inside ``mapInPandas`` over a ``spark.read.text``
scan — the parser has no driver state.
"""

from __future__ import annotations

import datetime as dt
import urllib.parse
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import SparkSession

from sensapp_spark.datamodel.sensor import sensor_uuid
from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType, value_schema
from sensapp_spark.ingest.csv_importer import IngestBatch
from sensapp_spark.ingest.frames import arrow_frame

I64_MAX = 2**63 - 1

PRECISION_FACTOR_NS = {"ns": 1, "us": 1_000, "ms": 1_000_000, "s": 1_000_000_000}


class LineProtocolError(ValueError):
    pass


@dataclass
class Point:
    measurement: str
    tags: list[tuple[str, str]]
    fields: list[tuple[str, object]]  # value: int|float|str|bool|Decimal
    timestamp_ns: int | None


def _scan_escaped(line: str, pos: int, stop_chars: str) -> tuple[str, int]:
    """Scan an identifier honoring backslash escapes of stop chars."""
    out = []
    while pos < len(line):
        c = line[pos]
        if c == "\\" and pos + 1 < len(line) and line[pos + 1] in stop_chars + "\\":
            out.append(line[pos + 1])
            pos += 2
            continue
        if c in stop_chars:
            break
        out.append(c)
        pos += 1
    return "".join(out), pos


def _parse_field_value(raw: str, with_numeric: bool):
    if raw.startswith('"'):
        if not raw.endswith('"') or len(raw) < 2:
            raise LineProtocolError(f"Unterminated string field value: {raw}")
        body = raw[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        return SensorType.STRING, body
    low = raw.lower()
    if low in ("t", "true"):
        return SensorType.BOOLEAN, True
    if low in ("f", "false"):
        return SensorType.BOOLEAN, False
    if raw.endswith("i") or raw.endswith("u"):
        unsigned = raw.endswith("u")
        try:
            v = int(raw[:-1])
        except ValueError as e:
            raise LineProtocolError(f"Bad integer field value: {raw}") from e
        if with_numeric:
            return SensorType.NUMERIC, Decimal(v)
        if unsigned and v > I64_MAX:
            raise LineProtocolError("U64 value is too big to be converted to i64")
        return SensorType.INTEGER, v
    try:
        f = float(raw)
    except ValueError as e:
        raise LineProtocolError(f"Bad field value: {raw}") from e
    if with_numeric:
        return SensorType.NUMERIC, Decimal(raw)
    return SensorType.FLOAT, f


def parse_line(line: str, with_numeric: bool = False) -> Point | None:
    """Parse one line; returns None for blank/comment lines."""
    line = line.strip()
    if not line or line.startswith("#"):
        return None
    measurement, pos = _scan_escaped(line, 0, ", ")
    if not measurement:
        raise LineProtocolError(f"Missing measurement: {line!r}")
    tags: list[tuple[str, str]] = []
    while pos < len(line) and line[pos] == ",":
        key, pos = _scan_escaped(line, pos + 1, "=, ")
        if pos >= len(line) or line[pos] != "=":
            raise LineProtocolError(f"Tag without value in: {line!r}")
        val, pos = _scan_escaped(line, pos + 1, "=, ")
        tags.append((key, val))
    if pos >= len(line) or line[pos] != " ":
        raise LineProtocolError(f"Missing fields in: {line!r}")
    pos += 1
    fields: list[tuple[str, object]] = []
    while pos < len(line):
        key, pos = _scan_escaped(line, pos, "=, ")
        if pos >= len(line) or line[pos] != "=":
            raise LineProtocolError(f"Field without value in: {line!r}")
        pos += 1
        if pos < len(line) and line[pos] == '"':
            end = pos + 1
            while end < len(line):
                if line[end] == "\\":
                    end += 2
                    continue
                if line[end] == '"':
                    break
                end += 1
            raw = line[pos:end + 1]
            pos = end + 1
        else:
            start = pos
            while pos < len(line) and line[pos] not in ", ":
                pos += 1
            raw = line[start:pos]
        stype, value = _parse_field_value(raw, with_numeric)
        fields.append((key, (stype, value)))
        if pos < len(line) and line[pos] == ",":
            pos += 1
            continue
        break
    timestamp_ns = None
    rest = line[pos:].strip()
    if rest:
        try:
            timestamp_ns = int(rest)
        except ValueError as e:
            raise LineProtocolError(f"Bad timestamp: {rest!r}") from e
    if not fields:
        raise LineProtocolError(f"No fields in: {line!r}")
    return Point(measurement, tags, fields, timestamp_ns)


def sensor_name(measurement: str, field_key: str) -> str:
    """``urlencode(measurement) + ' ' + urlencode(field_key)``
    (reference influxdb.rs:53-61)."""
    return (
        urllib.parse.quote(measurement, safe="")
        + " "
        + urllib.parse.quote(field_key, safe="")
    )


def ingest_lines(
    spark: SparkSession,
    text: str,
    precision: str = "ns",
    bucket: str | None = None,
    org: str | None = None,
    with_numeric: bool = False,
    now: dt.datetime | None = None,
) -> IngestBatch:
    factor = PRECISION_FACTOR_NS.get(precision)
    if factor is None:
        raise LineProtocolError(f"Unsupported precision: {precision}")
    now = now or dt.datetime.now(dt.timezone.utc)

    base_labels: list[tuple[str, str]] = []
    if bucket is not None:
        base_labels.append(("influxdb_bucket", bucket))
    if org is not None:
        base_labels.append(("influxdb_org", org))

    sensors: dict[str, tuple] = {}
    values: dict[SensorType, list[tuple]] = {}
    for raw_line in text.splitlines():
        point = parse_line(raw_line, with_numeric)
        if point is None:
            continue
        if point.timestamp_ns is not None:
            ns = point.timestamp_ns * factor
            # Integer µs arithmetic — float seconds would round at ~256 ns
            # for current epochs.
            ts = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) \
                + dt.timedelta(microseconds=ns // 1000)
        else:
            ts = now
        labels = dict(base_labels + point.tags)
        for field_key, (stype, value) in point.fields:
            name = sensor_name(point.measurement, field_key)
            uid = sensor_uuid(name, stype, None, labels)
            if uid not in sensors:
                sensors[uid] = (uid, name, stype.label, None, None, labels)
            elif sensors[uid][2] != stype.label:
                raise LineProtocolError(
                    f"Type conflict for sensor {name}: "
                    f"{sensors[uid][2]} vs {stype.label}"
                )
            values.setdefault(stype, []).append((uid, ts, value))

    sensors_df = arrow_frame(spark, list(sensors.values()), SENSOR_SCHEMA)
    frames = {
        stype: arrow_frame(spark, rows, value_schema(stype))
        for stype, rows in values.items()
    }
    return IngestBatch(sensors=sensors_df, values=frames)
