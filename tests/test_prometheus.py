"""Prometheus remote write/read tests (S5, P3/P4, X6) + wire codecs."""

from __future__ import annotations

import datetime as dt

import pytest

from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType
from sensapp_spark.exporters.prometheus_read import handle_read_request
from sensapp_spark.ingest.prometheus_write import (
    RemoteWriteError,
    ingest_remote_write,
)
from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
from sensapp_spark.wire import snappy_codec
from sensapp_spark.wire.prompb import (
    ReadQuery,
    TimeSeries,
    decode_read_response,
    decode_write_request,
    encode_read_request,
    encode_write_request,
)


# -- snappy -----------------------------------------------------------------

def test_snappy_roundtrip():
    for payload in (b"", b"a", b"hello world" * 1000, bytes(range(256)) * 300):
        assert snappy_codec.decompress(snappy_codec.compress(payload)) == payload


def test_snappy_decompress_copies():
    # Hand-built block using a copy element: "abcdabcd".
    # uvarint(8), literal len 4 "abcd", copy1: len 4, offset 4.
    block = bytes([8, (3 << 2), 97, 98, 99, 100, 0b001 | (4 - 4) << 2 | 0 << 5, 4])
    assert snappy_codec.decompress(block) == b"abcdabcd"


def test_snappy_rejects_garbage():
    with pytest.raises(ValueError):
        snappy_codec.decompress(bytes([200, 1, 2]))


# -- protobuf wire ----------------------------------------------------------

def test_write_request_roundtrip():
    series = [
        TimeSeries(
            labels=[("__name__", "cpu"), ("host", "a")],
            samples=[(1.5, 1700000000000), (2.5, 1700000060000)],
        )
    ]
    decoded = decode_write_request(encode_write_request(series))
    assert decoded[0].labels == series[0].labels
    assert decoded[0].samples == series[0].samples


# -- remote write (S5) ------------------------------------------------------

def _write_body(series):
    return snappy_codec.compress(encode_write_request(series))


def test_remote_write_ingest(spark):
    body = _write_body([
        TimeSeries(labels=[("__name__", "cpu_usage"), ("host", "a")],
                   samples=[(42.0, 1700000000000)]),
        TimeSeries(labels=[("__name__", "cpu_usage"), ("host", "b")],
                   samples=[(43.0, 1700000000000)]),
    ])
    batch = ingest_remote_write(spark, body)
    sensors = batch.sensors.collect()
    assert len(sensors) == 2
    assert all(s.name == "cpu_usage" and s.type == "Float" for s in sensors)
    assert {s.labels["host"] for s in sensors} == {"a", "b"}
    vals = batch.values[SensorType.FLOAT].collect()
    assert sorted(v.value for v in vals) == [42.0, 43.0]
    assert vals[0].time == dt.datetime(2023, 11, 14, 22, 13, 20)


def test_remote_write_requires_name(spark):
    body = _write_body([TimeSeries(labels=[("host", "a")], samples=[(1.0, 0)])])
    with pytest.raises(RemoteWriteError, match="__name__"):
        ingest_remote_write(spark, body)


# -- remote read (P3/P4, X6) -------------------------------------------------

@pytest.fixture(scope="module")
def lake_frames(spark):
    sensors = spark.createDataFrame(
        [
            ("u1", "cpu", "Float", None, None, {"host": "a"}),
            ("u2", "cpu", "Float", None, None, {"host": "b"}),
            ("u3", "note", "String", None, None, {}),
            ("u4", "mem", "Integer", None, None, {}),
        ],
        SENSOR_SCHEMA,
    ).cache()
    t0 = dt.datetime(2023, 11, 14, 22, 13, 20)
    floats = spark.createDataFrame(
        [("u1", t0, 1.5), ("u2", t0, 2.5)],
        "sensor_id string, time timestamp, value double")
    ints = spark.createDataFrame(
        [("u4", t0, 7)], "sensor_id string, time timestamp, value long")
    strs = spark.createDataFrame(
        [("u3", t0, "x")], "sensor_id string, time timestamp, value string")
    frames = {SensorType.FLOAT: floats, SensorType.INTEGER: ints,
              SensorType.STRING: strs}
    return sensors, frames


def test_remote_read_samples(spark, lake_frames):
    sensors, frames = lake_frames
    req = snappy_codec.compress(encode_read_request([
        ReadQuery(start_ms=1700000000000 - 60000, end_ms=1700000000000 + 60000,
                  matchers=[LabelMatcher("__name__", "cpu", MatcherType.EQUAL)]),
    ]))
    resp = handle_read_request(req, sensors, lambda st, ids: frames.get(st))
    results = decode_read_response(snappy_codec.decompress(resp))
    assert len(results) == 1
    series = results[0]
    assert len(series) == 2
    by_host = {dict(s.labels)["host"]: s for s in series}
    assert by_host["a"].samples == [(1.5, 1700000000000)]
    assert dict(by_host["a"].labels)["__name__"] == "cpu"


def test_remote_read_numeric_only_casts_and_skips(spark, lake_frames):
    sensors, frames = lake_frames
    # Regex matching all sensors: Integer included (cast), String skipped.
    req = snappy_codec.compress(encode_read_request([
        ReadQuery(start_ms=0, end_ms=2000000000000,
                  matchers=[LabelMatcher("__name__", ".*", MatcherType.REGEX_MATCH)]),
    ]))
    resp = handle_read_request(req, sensors, lambda st, ids: frames.get(st))
    (series,) = decode_read_response(snappy_codec.decompress(resp))
    names = sorted(dict(s.labels)["__name__"] for s in series)
    assert names == ["cpu", "cpu", "mem"]  # String series skipped
    mem = next(s for s in series if dict(s.labels)["__name__"] == "mem")
    assert mem.samples[0][0] == 7.0  # Integer → f64
