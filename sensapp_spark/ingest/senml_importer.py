"""SenML importer (operator S2) — RFC 8428 JSON → typed sensor batches.

Semantics follow reference src/importers/senml.rs:16-148:

* records are RFC-resolved: base fields ``bn``/``bt``/``bu``/``bv``
  persist until overridden; resolved name = bn + n, resolved time =
  bt + t, resolved value = bv + v (numbers only);
* times with absolute value < 2**28 are relative to "now" (RFC 8428
  §4.5.3);
* records group by resolved name; sensor type from the first record's
  value field: ``v``→Float, ``vs``→String, ``vb``→Boolean, ``vd``
  (base64)→Blob; no value → Float 0.0;
* unit from the first record's resolved unit.

Divergence: the reference assigns ``Uuid::new_v4`` (random!) to SenML
sensors (senml.rs:85) — this engine uses the deterministic identity
hash everywhere, so re-ingesting the same stream upserts instead of
duplicating.

SenML payloads are HTTP-request-scoped (≤ body limit), so parsing is
driver-side like the reference; the resulting frames are Arrow-built
local relations (``ingest/frames.py``).
"""

from __future__ import annotations

import base64
import datetime as dt
import json
from typing import Any

from pyspark.sql import SparkSession

from sensapp_spark.datamodel.sensor import sensor_uuid
from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType, value_schema
from sensapp_spark.ingest.csv_importer import IngestBatch
from sensapp_spark.ingest.frames import arrow_frame

RELATIVE_TIME_CUTOFF = 2**28  # RFC 8428 §4.5.3


class SenMLError(ValueError):
    pass


def _resolve(records: list[dict], now: dt.datetime) -> list[dict]:
    """RFC 8428 resolution pass."""
    bn, bt, bu, bv = "", 0.0, None, None
    resolved = []
    for rec in records:
        if not isinstance(rec, dict):
            raise SenMLError("SenML record must be an object")
        bn = rec.get("bn", bn)
        bt = rec.get("bt", bt)
        bu = rec.get("bu", bu)
        bv = rec.get("bv", bv)
        name = bn + rec.get("n", "")
        if not name:
            raise SenMLError("SenML record has no name (bn+n empty)")
        t = bt + rec.get("t", 0)
        seconds = float(t)
        if abs(seconds) < RELATIVE_TIME_CUTOFF:
            seconds += now.timestamp()
        value: tuple[str, Any] | None = None
        if "v" in rec:
            v = rec["v"]
            value = ("v", (bv or 0) + v if bv is not None else v)
        elif "vs" in rec:
            value = ("vs", rec["vs"])
        elif "vb" in rec:
            value = ("vb", rec["vb"])
        elif "vd" in rec:
            value = ("vd", rec["vd"])
        resolved.append(
            {"name": name, "time": seconds, "unit": rec.get("u", bu), "value": value}
        )
    return resolved


_FIELD_TYPE = {"v": SensorType.FLOAT, "vs": SensorType.STRING,
               "vb": SensorType.BOOLEAN, "vd": SensorType.BLOB}


def _convert(value: tuple[str, Any] | None, stype: SensorType):
    if value is None:
        return 0.0 if stype is SensorType.FLOAT else None
    key, v = value
    if stype is SensorType.FLOAT:
        return float(v) if key == "v" else 0.0
    if stype is SensorType.STRING:
        return v if key == "vs" else ""
    if stype is SensorType.BOOLEAN:
        return v if key == "vb" else False
    if stype is SensorType.BLOB:
        return base64.urlsafe_b64decode(v + "=" * (-len(v) % 4)) if key == "vd" else b""
    raise SenMLError(f"Unsupported sensor type for SenML import: {stype}")


def ingest_senml(
    spark: SparkSession, json_text: str, now: dt.datetime | None = None
) -> IngestBatch:
    try:
        payload = json.loads(json_text)
    except json.JSONDecodeError as e:
        raise SenMLError(f"Invalid SenML JSON: {e}") from e
    if not isinstance(payload, list):
        raise SenMLError("SenML payload must be a JSON array")
    now = now or dt.datetime.now(dt.timezone.utc)
    resolved = _resolve(payload, now)

    by_name: dict[str, list[dict]] = {}
    for rec in resolved:
        by_name.setdefault(rec["name"], []).append(rec)

    sensor_rows = []
    values: dict[SensorType, list[tuple]] = {}
    for name, recs in by_name.items():
        first_value = recs[0]["value"]
        stype = _FIELD_TYPE[first_value[0]] if first_value else SensorType.FLOAT
        unit = recs[0]["unit"]
        uid = sensor_uuid(name, stype, unit, {})
        sensor_rows.append((uid, name, stype.label, unit, None, {}))
        for rec in recs:
            # tz-aware UTC: arrow_frame refuses a naive datetime.
            ts = dt.datetime.fromtimestamp(rec["time"], dt.timezone.utc)
            values.setdefault(stype, []).append(
                (uid, ts, _convert(rec["value"], stype))
            )

    sensors = arrow_frame(spark, sensor_rows, SENSOR_SCHEMA)
    frames = {
        stype: arrow_frame(spark, rows, value_schema(stype))
        for stype, rows in values.items()
    }
    return IngestBatch(sensors=sensors, values=frames)
