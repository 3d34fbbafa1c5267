"""Exporter golden tests (X1-X5) — shapes from reference
src/exporters/{csv,jsonl,senml,arrow}.rs and FIXTURES.md §F4/F6."""

from __future__ import annotations

import datetime as dt
import json

import pyarrow as pa
import pyarrow.ipc as ipc
import pytest

from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.exporters import iter_senml, to_arrow_single, to_csv_single
from sensapp_spark.exporters.arrow_exporter import (
    arrow_multi_bytes_from_rows,
    multi_row_frame,
)
from sensapp_spark.exporters.csv_exporter import (
    assemble_multi,
    chunk_lines,
    multi_parts,
)
from sensapp_spark.exporters.jsonl_exporter import lines_jsonl
from sensapp_spark.exporters.senml_exporter import ordered_rows

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ts(seconds):
    return T0 + dt.timedelta(seconds=seconds)


def _jsonl(df, stype) -> str:
    return "".join(chunk_lines(r.line for r in lines_jsonl(df, stype).collect()))


def _senml(df, stype) -> list[dict]:
    """One record per chunk, so the array framing spans chunks."""
    rows = ordered_rows(df).collect()
    return json.loads("".join(iter_senml(rows, stype, chunk_rows=1)))


@pytest.fixture(scope="module")
def float_df(spark):
    rows = [
        ("u1", ts(0), 20.5, "temp", "°C", {"env": "prod", "room": "a"}),
        ("u1", ts(60), 21.0, "temp", "°C", {"env": "prod", "room": "a"}),
        ("u2", ts(0), 65.0, "hum", "%", {"env": "prod"}),
    ]
    schema = ("sensor_id string, time timestamp, value double, name string, "
              "unit string, labels map<string,string>")
    return spark.createDataFrame(rows, schema).cache()


def test_csv_single(float_df):
    out = to_csv_single(float_df.filter(F.col("sensor_id") == "u1"),
                        SensorType.FLOAT)
    assert out == (
        "timestamp,value\n"
        "2024-01-01T00:00:00+00:00,20.5\n"
        "2024-01-01T00:01:00+00:00,21.0\n"
    )


def test_csv_single_string_quoting(spark):
    rows = [("u1", T0, 'say "hi", ok', "s", None, {})]
    schema = ("sensor_id string, time timestamp, value string, name string, "
              "unit string, labels map<string,string>")
    df = spark.createDataFrame(rows, schema)
    out = to_csv_single(df, SensorType.STRING)
    assert out.splitlines()[1] == (
        '2024-01-01T00:00:00+00:00,"say ""hi"", ok"')


def test_csv_single_boolean_and_blob(spark):
    schema = ("sensor_id string, time timestamp, value boolean, name string, "
              "unit string, labels map<string,string>")
    df = spark.createDataFrame([("u", T0, True, "b", None, {})], schema)
    assert to_csv_single(df, SensorType.BOOLEAN).splitlines()[1].endswith(",true")
    schema_b = schema.replace("value boolean", "value binary")
    dfb = spark.createDataFrame([("u", T0, b"hello", "b", None, {})], schema_b)
    assert to_csv_single(dfb, SensorType.BLOB).splitlines()[1].endswith(",aGVsbG8=")


def test_csv_single_location(spark):
    schema = ("sensor_id string, time timestamp, "
              "value struct<latitude double, longitude double>, name string, "
              "unit string, labels map<string,string>")
    df = spark.createDataFrame([("u", T0, (59.9, 10.7), "gps", None, {})], schema)
    out = to_csv_single(df, SensorType.LOCATION)
    assert out == ("timestamp,latitude,longitude\n"
                   "2024-01-01T00:00:00+00:00,59.9,10.7\n")


def test_csv_multi_label_pivot(float_df):
    out = assemble_multi(multi_parts(float_df, SensorType.FLOAT).collect())
    lines = out.splitlines()
    # Union of label keys sorted: env, room (csv.rs:130-145).
    assert lines[0] == "timestamp,sensor_id,sensor_name,value,type,env,room"
    assert lines[1] == ("2024-01-01T00:00:00+00:00,u1,temp,20.5,float,prod,a")
    # u2 lacks "room" → empty trailing cell.
    assert lines[3] == "2024-01-01T00:00:00+00:00,u2,hum,65.0,float,prod,"


def test_jsonl(float_df):
    out = _jsonl(float_df.filter(F.col("sensor_id") == "u2"),
                 SensorType.FLOAT)
    obj = json.loads(out.splitlines()[0])
    assert obj == {
        "labels": {"env": "prod"},
        "sensor_name": "hum",
        "sensor_uuid": "u2",
        "timestamp": "2024-01-01T00:00:00+00:00",
        "type": "float",
        "value": 65.0,
    }
    # Keys must be alphabetical like serde's BTreeMap (jsonl.rs).
    assert list(json.loads(out.splitlines()[0])) == sorted(obj)


def test_jsonl_json_value_inlined(spark):
    schema = ("sensor_id string, time timestamp, value string, name string, "
              "unit string, labels map<string,string>")
    df = spark.createDataFrame(
        [("u", T0, '{"a": [1, 2]}', "j", None, {})], schema)
    obj = json.loads(_jsonl(df, SensorType.JSON).splitlines()[0])
    assert obj["value"] == {"a": [1, 2]}
    assert obj["type"] == "json"


def test_senml_relative_times(float_df):
    records = _senml(float_df, SensorType.FLOAT)
    # Sensor u1: base + one relative record; sensor u2: base only.
    assert records[0]["bn"] == "u1"
    assert records[0]["_name"] == "temp"
    assert records[0]["bt"] == 1704067200.0
    assert records[0]["bver"] == 10
    assert records[0]["bu"] == "°C"
    assert records[0]["_labels"] == {"env": "prod", "room": "a"}
    assert records[0]["t"] == 0 and records[0]["v"] == 20.5
    assert records[1] == {"t": 60.0, "v": 21.0}
    assert records[2]["bn"] == "u2"
    assert "bver" not in records[2]  # only first record keeps bver
    assert records[2]["v"] == 65.0


def test_senml_location_two_records_per_sample(spark):
    schema = ("sensor_id string, time timestamp, "
              "value struct<latitude double, longitude double>, name string, "
              "unit string, labels map<string,string>")
    df = spark.createDataFrame(
        [("u", T0, (59.9, 10.7), "gps", None, {}),
         ("u", ts(10), (60.0, 10.8), "gps", None, {})], schema)
    records = _senml(df, SensorType.LOCATION)
    assert records[0]["n"] == "lat" and records[0]["v"] == 59.9
    assert records[1] == {"t": 0, "n": "lon", "v": 10.7}
    assert records[2] == {"t": 10.0, "n": "lat", "v": 60.0}
    assert records[3] == {"t": 10.0, "n": "lon", "v": 10.8}


def test_arrow_single_roundtrip(float_df):
    raw = to_arrow_single(float_df.filter(F.col("sensor_id") == "u1"),
                          SensorType.FLOAT)
    table = ipc.open_file(pa.BufferReader(raw)).read_all()
    assert table.column_names == ["timestamp", "value"]
    assert pa.types.is_timestamp(table.schema.field("timestamp").type)
    assert table.column("value").to_pylist() == [20.5, 21.0]


def test_arrow_multi_long_schema(float_df):
    raw = arrow_multi_bytes_from_rows(
        multi_row_frame(float_df, SensorType.FLOAT).collect()
    )
    table = ipc.open_file(pa.BufferReader(raw)).read_all()
    assert table.column_names == [
        "timestamp", "sensor_id", "sensor_name", "value", "type", "labels"]
    assert table.column("value").to_pylist()[0] == "20.5"
    assert json.loads(table.column("labels").to_pylist()[0]) == {
        "env": "prod", "room": "a"}


def test_write_csv_multi_distributed(float_df, tmp_path):
    from sensapp_spark.exporters.csv_exporter import write_csv_multi

    out = str(tmp_path / "csv_out")
    keys = write_csv_multi(float_df, SensorType.FLOAT, out)
    assert keys == ["env", "room"]
    spark = float_df.sparkSession
    lines = sorted(r.value for r in spark.read.text(out).collect())
    assert len(lines) == 3
    assert lines[0].startswith("2024-01-01T00:00:00+00:00,u1,temp,20.5,float")


def test_write_jsonl_distributed(float_df, tmp_path):
    from sensapp_spark.exporters.jsonl_exporter import write_jsonl

    out = str(tmp_path / "jsonl_out")
    write_jsonl(float_df, SensorType.FLOAT, out)
    spark = float_df.sparkSession
    rows = [json.loads(r.value) for r in spark.read.text(out).collect()]
    assert len(rows) == 3
    assert {r["sensor_uuid"] for r in rows} == {"u1", "u2"}
