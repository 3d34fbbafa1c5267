"""Job-lean gateway reads: the pinned in-memory sensors dimension, the
one-action export peek, remote read over committed tables only, and
rollup cursors carried across a maintenance tick's compaction.

Job counts come from the DAG scheduler's job-id counter, which also
counts jobs launched on the scheduler's behalf (broadcasts, AQE query
stages), so a zero delta means no Spark job ran at all.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.server.app import create_app
from sensapp_spark.storage.lake import SensorLake

T0 = dt.datetime(2024, 1, 1)
FORMATS = ("csv", "jsonl", "arrow", "senml", "parquet")
QUERY = "/api/v1/query?query=lean[100000h]&format="
LABELS = ({"host": "a"}, {"host": "b", "dc": "x,y"}, {})


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _sensors(spark, ids, labels):
    return spark.createDataFrame(
        [(sid, "lean", "Float", "°C", None, lab)
         for sid, lab in zip(ids, labels)],
        "sensor_id string, name string, type string, unit string, "
        "unit_description string, labels map<string,string>",
    )


def _lake(spark, root) -> SensorLake:
    """Three Float series of 8 samples (24 rows), one label value
    needing CSV quoting and one sensor without labels."""
    lake = SensorLake(spark, root)
    ids = [f"lean/{i}" for i in range(3)]
    rows = [
        (sid, T0 + dt.timedelta(minutes=7 * k + i), 20.0 + k + i / 10)
        for i, sid in enumerate(ids)
        for k in range(8)
    ]
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame(
            rows, "sensor_id string, time timestamp, value double"
        ),
    )
    lake.upsert_sensors(_sensors(spark, ids, LABELS))
    return lake


@pytest.fixture(scope="module")
def lean(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lean_lake"))
    return _lake(spark, root), root


def test_dimension_probe_and_meta_lookup_run_no_job(spark, lean):
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
    from sensapp_spark.operators.selection import (
        probe_sensor_rows,
        select_sensors,
    )

    lake, _ = lean
    lake.sensors()  # pin the committed version (one toArrow job)
    app = create_app(spark, lake)
    before = _jobs(spark)
    rows = probe_sensor_rows(select_sensors(
        lake.sensors(),
        [LabelMatcher("__name__", "lean"),
         LabelMatcher("host", "a|b", MatcherType.REGEX_MATCH)],
    ))
    meta = (
        lake.sensors().filter(F.col("sensor_id") == "lean/1").collect()
    )
    with app.test_client() as c:
        # An unknown id answers from the meta lookup alone.
        assert c.get("/series/no-such-sensor").status_code == 404
    assert _jobs(spark) == before
    assert sorted(r.sensor_id for r in rows) == ["lean/0", "lean/1"]
    assert meta[0].labels == {"host": "b", "dc": "x,y"}


def test_new_sensor_visible_next_read_and_at_seq_keeps_old(spark, tmp_path):
    lake = _lake(spark, str(tmp_path / "lake"))
    old_seq = lake.history()[-1]["seq"]
    assert lake.sensors().count() == 3
    lake.upsert_sensors(_sensors(spark, ["lean/new"], [{"host": "n"}]))
    assert lake.sensors().count() == 4
    assert lake.sensors(at_seq=old_seq).count() == 3
    # The pin follows the commit log, not the last call.
    assert lake.sensors().filter(
        F.col("sensor_id") == "lean/new"
    ).count() == 1


def test_dimension_pins_only_under_local_relation_threshold(spark, tmp_path):
    conf = "spark.sql.execution.arrow.localRelationThreshold"
    pinned = _lake(spark, str(tmp_path / "small"))
    assert pinned.sensors().inputFiles() == []  # in-memory relation
    spark.conf.set(conf, "1")
    try:
        scanned = _lake(spark, str(tmp_path / "over"))
        assert scanned.sensors().inputFiles()  # the parquet scan
        assert scanned.sensors().count() == 3
    finally:
        spark.conf.unset(conf)


def test_second_lake_on_same_root_sees_other_commit(spark, tmp_path):
    root = str(tmp_path / "lake")
    first = _lake(spark, root)
    assert first.sensors().count() == 3  # pinned
    second = SensorLake(spark, root)
    second.upsert_sensors(_sensors(spark, ["lean/other"], [{}]))
    assert {r.sensor_id for r in first.sensors().collect()} == {
        "lean/0", "lean/1", "lean/2", "lean/other",
    }


@pytest.mark.parametrize("streamed", [False, True])
def test_remote_read_scans_only_committed_tables(
    spark, lean, monkeypatch, streamed
):
    from sensapp_spark.operators.matchers import LabelMatcher
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import (
        RESPONSE_TYPE_STREAMED_XOR_CHUNKS,
        ReadQuery,
        encode_read_request,
    )

    lake, _ = lean
    scanned = []
    values = lake.values

    def spy(stype, *a, **k):
        scanned.append(stype)
        return values(stype, *a, **k)

    monkeypatch.setattr(lake, "values", spy)
    start = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000
    body = snappy_codec.compress(encode_read_request(
        [ReadQuery(start, start + 86_400_000,
                   [LabelMatcher("__name__", "lean")])],
        [RESPONSE_TYPE_STREAMED_XOR_CHUNKS] if streamed else [],
    ))
    app = create_app(spark, lake)
    with app.test_client() as c:
        r = c.post(
            "/api/v1/prometheus_remote_read", data=body,
            headers={
                "content-encoding": "snappy",
                "content-type": "application/x-protobuf",
                "x-prometheus-remote-read-version": "0.1.0",
            },
        )
    assert r.status_code == 200
    assert len(r.get_data()) > 0
    assert scanned == [SensorType.FLOAT]


def test_compacting_tick_leaves_rollup_current_and_reads_poll_nothing(
    spark, tmp_path, monkeypatch
):
    from sensapp_spark.storage.rollup import RollupStore
    from sensapp_spark.streaming.maintenance import (
        MaintenancePlan,
        maintenance_tick,
    )

    lake = _lake(spark, str(tmp_path / "lake"))
    rep = maintenance_tick(lake, MaintenancePlan(rollup_grains=(3600,)))
    assert rep["optimize_float"]["files_per_month"] >= 1
    assert rep["rollup_3600s_float_crossing"]["seq"] is not None
    store = RollupStore(lake, grain_s=3600)
    assert store._cursor_current(
        SensorType.FLOAT, store.committed_cursor(SensorType.FLOAT)
    )

    def no_poll(*a, **k):  # pragma: no cover - the regression case
        raise AssertionError("served read polled the changes feed")

    monkeypatch.setattr(lake, "changes", no_poll)
    app = create_app(spark, lake)
    with app.test_client() as c:
        r = c.get(
            "/api/v1/query_range?query=avg_over_time(lean[1h])"
            "&start=2024-01-01T01:00:00Z&end=2024-01-01T02:00:00Z"
            "&step=3600"
        )
    assert r.status_code == 200, r.get_data(as_text=True)
    assert r.headers["X-Served-From"] == "rollup-3600s"
    assert r.get_json()["result"]


@pytest.fixture(scope="module")
def bodies(spark, lean):
    """Each format through the peek-then-stream path (threshold 5 <
    24 rows), the peek's small path (threshold 1000) and the collect
    path (no threshold)."""
    lake, _ = lean
    out = {}
    for key, threshold in (("stream", 5), ("small", 1000),
                           ("collect", None)):
        app = create_app(spark, lake, stream_threshold=threshold)
        with app.test_client() as c:
            out[key] = {f: c.get(QUERY + f).get_data() for f in FORMATS}
    return out


@pytest.mark.parametrize("fmt", FORMATS)
def test_export_paths_byte_identical(bodies, fmt):
    assert bodies["collect"][fmt]
    assert bodies["stream"][fmt] == bodies["collect"][fmt]
    assert bodies["small"][fmt] == bodies["collect"][fmt]


def test_csv_header_carries_label_union(bodies):
    lines = bodies["collect"]["csv"].decode().splitlines()
    assert lines[0] == "timestamp,sensor_id,sensor_name,value,type,dc,host"
    assert len(lines) == 25
    assert lines[9].endswith(',"x,y",b')  # lean/1's first row
    assert lines[17].endswith(",,")  # lean/2 has no labels
