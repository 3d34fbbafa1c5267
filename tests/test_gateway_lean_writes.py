"""Job-lean gateway writes: Arrow-built ingest frames and dimension
upserts that commit only when a sensor is new.

A write of series the lake already holds runs exactly one Spark job per
value type (the append that lands it); the sensors dimension is probed
in memory and left alone, so its commit history and the reader's pinned
copy survive the publish.
"""

from __future__ import annotations

import datetime as dt
import io

import pyarrow as pa
import pyarrow.ipc as ipc
import pytest

from sensapp_spark.datamodel.sensor import sensor_uuid
from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType
from sensapp_spark.ingest.arrow_importer import ingest_arrow_table
from sensapp_spark.server.app import create_app
from sensapp_spark.storage.lake import SensorLake
from sensapp_spark.wire import snappy_codec
from sensapp_spark.wire.prompb import TimeSeries, encode_write_request

T0 = 1709337600  # 2024-03-02T00:00:00Z
PROM_HEADERS = {
    "content-encoding": "snappy",
    "content-type": "application/x-protobuf",
    "x-prometheus-remote-write-version": "0.1.0",
}
ARROW_CTYPE = "application/vnd.apache.arrow.file"


def _influx(client, t0: int, hosts=("a", "b")):
    """Two value types (Float temp, Integer count) for each host."""
    body = "\n".join(
        f"env,host={h} temp={20.5 + k},count={k}i {t0 + 60 * k}"
        for h in hosts for k in range(5)
    )
    r = client.post("/api/v2/write?precision=s", data=body)
    assert r.status_code == 204, r.data


def _remote_write(client, t0: int, hosts=("a", "b")):
    series = [
        TimeSeries(labels=[("__name__", "rw"), ("host", h)],
                   samples=[(1.5 * k, (t0 + 60 * k) * 1000) for k in range(5)])
        for h in hosts
    ]
    body = snappy_codec.compress(encode_write_request(series))
    r = client.post("/api/v1/prometheus_remote_write", data=body,
                    headers=PROM_HEADERS)
    assert r.status_code == 204, r.data


def _arrow_ipc(names, times_s, values) -> bytes:
    table = pa.table({
        "sensor_name": pa.array(names, pa.string()),
        "timestamp": pa.array([t * 1_000_000 for t in times_s],
                              pa.timestamp("us")),
        "value": pa.array(values, pa.float64()),
    })
    sink = io.BytesIO()
    with ipc.new_file(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


def _arrow(client, t0: int, names=("bulk_a", "bulk_b")):
    rows = [(n, t0 + 60 * k, float(k)) for n in names for k in range(5)]
    body = _arrow_ipc(*zip(*rows))
    r = client.post("/publish", data=body, content_type=ARROW_CTYPE)
    assert r.status_code == 200, r.data


WRITERS = {"influx": (_influx, 2), "remote_write": (_remote_write, 1),
           "arrow": (_arrow, 1)}


@pytest.fixture()
def gateway(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    app = create_app(spark, lake)
    app.config["TESTING"] = True
    return lake, app.test_client()


def _sensor_ids(lake) -> set[str]:
    return {r.sensor_id for r in lake.sensors().select("sensor_id").collect()}


@pytest.mark.parametrize("route", sorted(WRITERS))
def test_existing_series_write_runs_one_job_per_value_type(
        spark_jobs, gateway, route):
    lake, client = gateway
    write, value_types = WRITERS[route]
    write(client, T0)  # creates the series: commits the dimension
    lake.sensors()  # pin the committed version (one toArrow job)
    before = spark_jobs()
    write(client, T0 + 86400)
    assert spark_jobs() - before == value_types


@pytest.mark.parametrize("route,jobs", [("influx", 3), ("remote_write", 2),
                                        ("arrow", 2)])
def test_first_publish_into_an_empty_lake_job_counts(
        spark_jobs, gateway, route, jobs):
    """The dimension probe of an empty lake reads an Arrow-built empty
    frame (no job), so the first publish runs the value appends plus
    the one commit of the new sensors."""
    lake, client = gateway
    write, value_types = WRITERS[route]
    before = spark_jobs()
    write(client, T0)
    assert spark_jobs() - before == jobs == value_types + 1


def test_noop_publish_keeps_history_and_pinned_dimension(
        spark_jobs, gateway, monkeypatch):
    lake, client = gateway
    _influx(client, T0)
    sid = sensor_uuid("env temp", SensorType.FLOAT, None, {"host": "a"})
    assert client.get(f"/series/{sid}?format=jsonl").status_code == 200
    history = lake.history()

    pins = []
    pin = lake._pin_sensors
    monkeypatch.setattr(lake, "_pin_sensors",
                        lambda data: pins.append(data) or pin(data))
    _influx(client, T0 + 86400)
    assert lake.history() == history
    r = client.get(f"/series/{sid}?format=jsonl")
    assert r.status_code == 200
    assert len(r.data.decode().splitlines()) == 10
    assert pins == []


def test_publish_adding_a_series_commits_once_and_reads_back(gateway):
    lake, client = gateway
    _remote_write(client, T0, hosts=("a",))
    seq = lake.history()[-1]["seq"]
    _remote_write(client, T0 + 86400, hosts=("a", "c"))
    assert lake.history()[-1]["seq"] == seq + 1
    new = sensor_uuid("rw", SensorType.FLOAT, None, {"host": "c"})
    assert new in _sensor_ids(lake)
    r = client.get(f"/series/{new}?format=jsonl")
    assert r.status_code == 200
    assert len(r.data.decode().splitlines()) == 5


def test_jsonl_read_back_job_counts(spark_jobs, gateway):
    """The read-back after a write is one job — the peek, a
    TakeOrderedAndProject over the id-filtered scan — and one more (the
    re-pin of the new sensors version) after a write that added a
    series."""
    lake, client = gateway
    _remote_write(client, T0, hosts=("a",))
    sid = sensor_uuid("rw", SensorType.FLOAT, None, {"host": "a"})
    lake.sensors()  # pin the committed version (one toArrow job)

    def read_back_jobs() -> int:
        before = spark_jobs()
        r = client.get(f"/series/{sid}?format=jsonl")
        assert r.status_code == 200
        assert r.data
        return spark_jobs() - before

    _remote_write(client, T0 + 86400, hosts=("a",))
    assert read_back_jobs() == 1
    _remote_write(client, T0 + 2 * 86400, hosts=("a", "c"))
    assert read_back_jobs() == 2


def test_erased_sensor_is_re_added_by_a_re_publish(gateway):
    lake, client = gateway
    _arrow(client, T0)
    sid = sensor_uuid("bulk_a", SensorType.FLOAT, None, {})
    lake.erase_sensor(sid)
    assert sid not in _sensor_ids(lake)
    _arrow(client, T0 + 86400)
    assert sid in _sensor_ids(lake)
    r = client.get(f"/series/{sid}?format=jsonl")
    assert len(r.data.decode().splitlines()) == 5


def test_existing_row_wins_over_a_re_published_sensor(spark, tmp_path):
    """``unit_description`` is outside the UUID hash, so two rows with
    one id can differ in it: the committed row is kept, and a batch
    mixing a known and a new sensor commits only the new one."""
    lake = SensorLake(spark, str(tmp_path / "lake"))

    def row(sid, desc):
        return (sid, "m", "Float", "°C", desc, {"k": "v"})

    lake.upsert_sensors(spark.createDataFrame([row("s1", "first")],
                                              SENSOR_SCHEMA))
    history = lake.history()
    lake.upsert_sensors(spark.createDataFrame([row("s1", "second")],
                                              SENSOR_SCHEMA))
    assert lake.history() == history
    lake.upsert_sensors(spark.createDataFrame(
        [row("s1", "third"), row("s2", "new"), row("s2", "new")],
        SENSOR_SCHEMA,
    ))
    assert len(lake.history()) == len(history) + 1
    got = sorted((r.sensor_id, r.unit_description)
                 for r in lake.sensors().collect())
    assert got == [("s1", "first"), ("s2", "new")]


def test_arrow_import_ids_match_sensor_uuid(spark):
    names = ["b", "a", "b", "a", "b"]
    times = [T0 + k for k in range(5)]
    table = pa.table({
        "sensor_name": names,
        "timestamp": pa.array([t * 1_000_000 for t in times],
                              pa.timestamp("us")),
        "value": pa.array([float(k) for k in range(5)]),
    })
    batch = ingest_arrow_table(spark, table)
    uid = {n: sensor_uuid(n, SensorType.FLOAT, None, {}) for n in "ab"}
    got = [tuple(r) for r in batch.values[SensorType.FLOAT].collect()]
    want = [
        (uid[n], dt.datetime.fromtimestamp(t, dt.timezone.utc)
         .replace(tzinfo=None), float(k))
        for k, (n, t) in enumerate(zip(names, times))
    ]
    assert got == want
    assert sorted((r.sensor_id, r.name) for r in batch.sensors.collect()) \
        == sorted((uid[n], n) for n in "ab")
