"""Sensor identity: deterministic UUIDs from (name, type, unit, labels).

Semantics follow reference src/datamodel/sensor.rs:82-178:

* the hash input buffer is ``name RS type_byte RS [unit] RS (k US v RS)*``
  with RS = 0x1E, US = 0x1F, labels sorted by (key, value)
  (sensor.rs:43-51); names/keys/values containing bytes
  {11, 28, 29, 30, 31} are rejected (sensor.rs:67-69);
* the first 4 UUID bytes hash the *name only* so series of one metric sort
  adjacently (sensor.rs:159-175); the remaining 12 bytes hash the full
  buffer; the result is stamped as UUID version 8;
* the key is derived from a configurable salt (sensor.rs:74-80).

The reference derives the MAC key with ``blake3::derive_key`` and hashes
with keyed BLAKE3 (sensor.rs:74-80, 153-172). Both modes are implemented
in pure Python (``datamodel/blake3_pure.py``, written from the public
BLAKE3 spec), so UUIDs are byte-identical to the reference's in every
environment — the golden test vs sensor.rs:366-370 always runs. There is
no compiled fast path: UUID assignment is a driver-side small-dimension
operation (per-batch sensor metadata, not per-row), so the pure-Python
rate is never a query bottleneck, and one implementation is the one the
golden test pins.
"""

from __future__ import annotations

import uuid as uuid_mod
from dataclasses import dataclass, field
from functools import lru_cache

from sensapp_spark.config import CONFIG
from sensapp_spark.datamodel.blake3_pure import blake3_derive_key, blake3_keyed
from sensapp_spark.datamodel.types import SensorType

_KEY_CONTEXT = b"SENSAPP uuid hash mac 2024-01-19 strings to unique ids"
_RS = b"\x1e"  # Record Separator
_US = b"\x1f"  # Unit Separator
_SPECIAL = frozenset((11, 28, 29, 30, 31))


@lru_cache(maxsize=8)
def _mac_key(salt: str) -> bytes:
    return blake3_derive_key(_KEY_CONTEXT.decode(), salt.encode())


def _check_special(s: str, what: str) -> None:
    if any(b in _SPECIAL for b in s.encode()):
        raise ValueError(f"The {what} '{s}' contains special characters. Please remove them.")


def _uuid_buffer(
    name: str,
    sensor_type: SensorType,
    unit: str | None,
    labels: list[tuple[str, str]],
) -> bytes:
    _check_special(name, "name")
    buf = bytearray()
    buf += name.encode()
    buf += _RS
    buf += bytes([int(sensor_type)])
    buf += _RS
    if unit:
        buf += unit.encode()
    buf += _RS
    for k, v in labels:
        _check_special(k, "tag key")
        _check_special(v, "tag value")
        buf += k.encode() + _US + v.encode() + _RS
    return bytes(buf)


def sensor_uuid(
    name: str,
    sensor_type: SensorType,
    unit: str | None = None,
    labels: dict[str, str] | None = None,
    salt: str | None = None,
) -> str:
    """Deterministic sensor UUID — the upsert key for the sensors table."""
    sorted_labels = sorted((labels or {}).items())
    buf = _uuid_buffer(name, sensor_type, unit, sorted_labels)
    key = _mac_key(salt if salt is not None else CONFIG.sensor_salt)
    head = blake3_keyed(key, name.encode(), 4)
    tail = blake3_keyed(key, buf, 12)
    raw = bytearray(head + tail)
    # Stamp as UUID version 8, RFC 4122 variant (uuid::Builder::from_custom_bytes).
    raw[6] = (raw[6] & 0x0F) | 0x80
    raw[8] = (raw[8] & 0x3F) | 0x80
    return str(uuid_mod.UUID(bytes=bytes(raw)))


@dataclass
class Sensor:
    """One time series: reference src/datamodel/sensor.rs:12-19.

    A physical device measuring two quantities is two sensors
    (docs/DATAMODEL.md:7).
    """

    name: str
    sensor_type: SensorType
    unit: str | None = None
    labels: dict[str, str] = field(default_factory=dict)
    uuid: str = ""

    def __post_init__(self) -> None:
        if not self.uuid:
            self.uuid = sensor_uuid(self.name, self.sensor_type, self.unit, self.labels)

    def as_row(self) -> tuple:
        """Row for the SENSOR_SCHEMA sensors dimension table."""
        return (
            self.uuid,
            self.name,
            self.sensor_type.label,
            self.unit,
            None,
            dict(self.labels),
        )
