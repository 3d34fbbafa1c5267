"""Gorilla XOR chunk codec tests (X7) + streamed remote-read framing."""

from __future__ import annotations

import datetime as dt
import math
import random

import pytest

from sensapp_spark.wire.xorchunk import (
    BitReader,
    BitWriter,
    crc32c,
    decode_xor_chunk,
    encode_xor_chunk,
)


def roundtrip(samples):
    data = encode_xor_chunk(samples)
    assert decode_xor_chunk(data) == samples
    return data


def test_bitstream_roundtrip():
    w = BitWriter()
    w.write_bits(0b101, 3)
    w.write_bits(0xDEAD, 16)
    w.write_bit(1)
    r = BitReader(w.getvalue())
    assert r.read_bits(3) == 0b101
    assert r.read_bits(16) == 0xDEAD
    assert r.read_bit() == 1


def test_empty_and_single():
    assert roundtrip([]) == b"\x00\x00"
    data = roundtrip([(1700000000000, 42.5)])
    assert data[:2] == b"\x00\x01"  # 2-byte BE count


def test_two_samples():
    roundtrip([(1700000000000, 1.0), (1700000015000, 1.0)])
    roundtrip([(1700000000000, 1.0), (1700000015000, 2.5)])


def test_regular_series_compresses_well():
    # 120 samples at a fixed 15s scrape interval with near-constant
    # values — the Gorilla paper's sweet spot; dod=0 → 1 bit/timestamp.
    samples = [(1700000000000 + i * 15000, 20.0 + (i % 3) * 0.5)
               for i in range(120)]
    data = roundtrip(samples)
    assert len(data) < 120 * 4  # ≪ 16 bytes/sample raw


def test_irregular_timestamps_and_values():
    rng = random.Random(42)
    t = 1700000000000
    samples = []
    v = 100.0
    for _ in range(500):
        t += rng.randint(1, 10_000_000)
        v += rng.uniform(-5, 5)
        samples.append((t, v))
    roundtrip(samples)


def test_special_float_values():
    samples = [(0, 0.0), (1000, -0.0), (2000, float("inf")),
               (3000, -float("inf")), (4000, 1e-300), (5000, 1e300)]
    roundtrip(samples)
    # NaN round-trips bit-exactly even though NaN != NaN.
    data = encode_xor_chunk([(0, float("nan")), (60000, 1.0)])
    out = decode_xor_chunk(data)
    assert math.isnan(out[0][1]) and out[1] == (60000, 1.0)


def test_negative_and_boundary_dod():
    # dod exactly +2^13 (the asymmetric 14-bit upper bound) and negatives.
    samples = [(0, 1.0), (100, 1.0), (100 + 100 + 8192, 1.0),
               (100 + 100 + 8192 + 50, 1.0)]
    roundtrip(samples)
    samples = [(10_000_000, 1.0), (10_000_100, 2.0), (10_000_150, 3.0)]
    roundtrip(samples)


def test_crc32c_known_vectors():
    # Public CRC-32C check values.
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_streamed_read_response(spark):
    from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType
    from sensapp_spark.exporters.prometheus_read import (
        iter_read_request_streamed,
    )
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.protowire import decode_varint, iter_fields
    from sensapp_spark.wire.prompb import ReadQuery, encode_read_request

    sensors = spark.createDataFrame(
        [("u1", "cpu", "Float", None, None, {"host": "a"})], SENSOR_SCHEMA)
    t0 = dt.datetime(2023, 11, 14, 22, 13, 20)
    floats = spark.createDataFrame(
        [("u1", t0, 1.5), ("u1", t0 + dt.timedelta(seconds=15), 1.5)],
        "sensor_id string, time timestamp, value double")
    req = snappy_codec.compress(encode_read_request([
        ReadQuery(start_ms=0, end_ms=2_000_000_000_000,
                  matchers=[LabelMatcher("__name__", "cpu", MatcherType.EQUAL)]),
        ReadQuery(start_ms=0, end_ms=1,  # matches nothing → skipped frame
                  matchers=[LabelMatcher("__name__", "none", MatcherType.EQUAL)]),
    ]))
    stream = b"".join(iter_read_request_streamed(
        req, sensors, lambda st, ids: {SensorType.FLOAT: floats}.get(st)))

    # Exactly one frame (empty query skipped); frame = uvarint len + crc + msg
    length, pos = decode_varint(stream, 0)
    crc = int.from_bytes(stream[pos:pos + 4], "big")
    msg = stream[pos + 4:pos + 4 + length]
    assert len(msg) == length and pos + 4 + length == len(stream)
    assert crc == crc32c(msg)

    # Parse ChunkedReadResponse → series → chunk → decode XOR samples.
    fields = list(iter_fields(msg))
    series_msgs = [v for f, _, v in fields if f == 1]
    assert len(series_msgs) == 1
    chunk_msgs = [v for f, _, v in iter_fields(series_msgs[0]) if f == 2]
    (chunk,) = chunk_msgs
    parts = {f: v for f, _, v in iter_fields(chunk)}
    assert parts[1] == 1700000000000 and parts[2] == 1700000015000
    assert parts[3] == 1  # XOR encoding
    assert decode_xor_chunk(parts[4]) == [
        (1700000000000, 1.5), (1700000015000, 1.5)]
