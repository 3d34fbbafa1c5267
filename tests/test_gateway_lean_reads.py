"""Job-lean gateway reads: the pinned in-memory sensors dimension, the
one-action export peek, id-keyed scans with literal metadata under the
probe cap, remote read over committed tables only, and rollup cursors
carried across a maintenance tick's compaction.

Job counts come from the ``spark_jobs`` fixture (tests/conftest.py):
a zero delta means no Spark job ran at all.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.server.app import create_app
from sensapp_spark.storage.lake import SensorLake

T0 = dt.datetime(2024, 1, 1)
FORMATS = ("csv", "jsonl", "arrow", "senml", "parquet")
QUERY = "/api/v1/query?query=lean[100000h]&format="
LABELS = ({"host": "a"}, {"host": "b", "dc": "x,y"}, {})
UNITS = (None, "°C", "°C")
READ_HEADERS = {
    "content-encoding": "snappy",
    "content-type": "application/x-protobuf",
    "x-prometheus-remote-read-version": "0.1.0",
}


def _sensors(spark, ids, labels, units=None):
    return spark.createDataFrame(
        [(sid, "lean", "Float", unit, None, lab)
         for sid, lab, unit in zip(ids, labels, units or ["°C"] * len(ids))],
        "sensor_id string, name string, type string, unit string, "
        "unit_description string, labels map<string,string>",
    )


def _lake(spark, root) -> SensorLake:
    """Three Float series of 8 samples (24 rows), one label value
    needing CSV quoting, one sensor without labels and one without a
    unit."""
    lake = SensorLake(spark, root)
    ids = [f"lean-{i}" for i in range(3)]
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
    lake.upsert_sensors(_sensors(spark, ids, LABELS, UNITS))
    return lake


@pytest.fixture(scope="module")
def lean(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lean_lake"))
    return _lake(spark, root), root


def test_dimension_probe_and_meta_lookup_run_no_job(spark, lean, spark_jobs):
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
    from sensapp_spark.operators.selection import (
        probe_sensor_rows,
        select_sensors,
    )

    lake, _ = lean
    lake.sensors()  # pin the committed version (one toArrow job)
    app = create_app(spark, lake)
    before = spark_jobs()
    rows = probe_sensor_rows(select_sensors(
        lake.sensors(),
        [LabelMatcher("__name__", "lean"),
         LabelMatcher("host", "a|b", MatcherType.REGEX_MATCH)],
    ))
    meta = (
        lake.sensors().filter(F.col("sensor_id") == "lean-1").collect()
    )
    with app.test_client() as c:
        # An unknown id answers from the meta lookup alone.
        assert c.get("/series/no-such-sensor").status_code == 404
    assert spark_jobs() == before
    assert sorted(r.sensor_id for r in rows) == ["lean-0", "lean-1"]
    assert meta[0].labels == {"host": "b", "dc": "x,y"}


def test_new_sensor_visible_next_read_and_at_seq_keeps_old(spark, tmp_path):
    lake = _lake(spark, str(tmp_path / "lake"))
    old_seq = lake.history()[-1]["seq"]
    assert lake.sensors().count() == 3
    lake.upsert_sensors(_sensors(spark, ["lean-new"], [{"host": "n"}]))
    assert lake.sensors().count() == 4
    assert lake.sensors(at_seq=old_seq).count() == 3
    # The pin follows the commit log, not the last call.
    assert lake.sensors().filter(
        F.col("sensor_id") == "lean-new"
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
    second.upsert_sensors(_sensors(spark, ["lean-other"], [{}]))
    assert {r.sensor_id for r in first.sensors().collect()} == {
        "lean-0", "lean-1", "lean-2", "lean-other",
    }


def _read_body(matchers, streamed: bool) -> bytes:
    """A one-day remote-read request from T0."""
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import (
        RESPONSE_TYPE_STREAMED_XOR_CHUNKS,
        ReadQuery,
        encode_read_request,
    )

    start = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000
    return snappy_codec.compress(encode_read_request(
        [ReadQuery(start, start + 86_400_000, matchers)],
        [RESPONSE_TYPE_STREAMED_XOR_CHUNKS] if streamed else [],
    ))


def _remote_read(client, matchers, streamed: bool) -> bytes:
    r = client.post("/api/v1/prometheus_remote_read",
                    data=_read_body(matchers, streamed), headers=READ_HEADERS)
    assert r.status_code == 200
    return r.get_data()


@pytest.mark.parametrize("streamed", [False, True])
def test_remote_read_scans_only_committed_tables(
    spark, lean, monkeypatch, streamed
):
    from sensapp_spark.operators.matchers import LabelMatcher

    lake, _ = lean
    scanned = []
    values = lake.values

    def spy(stype, *a, **k):
        scanned.append(stype)
        return values(stype, *a, **k)

    monkeypatch.setattr(lake, "values", spy)
    app = create_app(spark, lake)
    with app.test_client() as c:
        body = _remote_read(c, [LabelMatcher("__name__", "lean")], streamed)
    assert len(body) > 0
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


# 24 one-minute buckets, computed from raw by the realtime read.
ROLLUP = "/api/v1/rollup?type=float&grain=60&realtime=1"


@pytest.fixture(scope="module")
def bodies(spark, lean):
    """Each format, and the JSONL rollup read, through the
    peek-then-stream path (threshold 5 < 24 rows) and the peek's small
    path (threshold 1000)."""
    lake, _ = lean
    out = {}
    for key, threshold in (("stream", 5), ("small", 1000)):
        app = create_app(spark, lake, stream_threshold=threshold)
        with app.test_client() as c:
            out[key] = {f: c.get(QUERY + f).get_data() for f in FORMATS}
            out[key]["rollup"] = c.get(ROLLUP).get_data()
    return out


@pytest.mark.parametrize("fmt", FORMATS + ("rollup",))
def test_export_paths_byte_identical(bodies, fmt):
    assert bodies["small"][fmt]
    assert bodies["stream"][fmt] == bodies["small"][fmt]


def test_rollup_body_holds_every_bucket(bodies):
    lines = bodies["small"]["rollup"].decode().splitlines()
    assert len(lines) == 24
    assert json.loads(lines[0])["sensor_id"] == "lean-0"


def test_csv_header_carries_label_union(bodies):
    lines = bodies["small"]["csv"].decode().splitlines()
    assert lines[0] == "timestamp,sensor_id,sensor_name,value,type,dc,host"
    assert len(lines) == 25
    assert lines[9].endswith(',"x,y",b')  # lean-1's first row
    assert lines[17].endswith(",,")  # lean-2 has no labels


def _peek_plan(spark, lake, monkeypatch, path: str) -> str:
    """The executed plan of the last collect a request ran — on an
    export's small path, the peek."""
    cls = type(spark.range(1))
    collect = cls.collect
    seen = []

    def spy(self):
        seen.append(self)
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    app = create_app(spark, lake, stream_threshold=1000)
    with app.test_client() as c:
        assert c.get(path).status_code == 200
    monkeypatch.undo()
    return seen[-1]._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("fmt", FORMATS)
def test_export_peek_plans_one_take_ordered(spark, lean, monkeypatch, fmt):
    """The peek's Limit fuses with the exporter's Sort: no range-sort
    sampling job and no range-partitioning shuffle."""
    lake, _ = lean
    plan = _peek_plan(spark, lake, monkeypatch, QUERY + fmt)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


@pytest.fixture(scope="module")
def zoned(spark, tmp_path_factory):
    """The lean lake clustered by optimize (zone map written) and its
    dimension pinned."""
    lake = _lake(spark, str(tmp_path_factory.mktemp("zoned_lake")))
    lake.optimize(SensorType.FLOAT)
    lake.sensors()
    return lake


def test_id_keyed_reads_job_counts(spark, zoned, spark_jobs):
    from sensapp_spark.operators.matchers import LabelMatcher

    app = create_app(spark, zoned)
    with app.test_client() as c:

        def jobs(call) -> int:
            before = spark_jobs()
            call()
            return spark_jobs() - before

        def get(path):
            r = c.get(path)
            assert r.status_code == 200
            assert r.get_data()

        assert jobs(lambda: get(QUERY + "csv")) <= 2
        assert jobs(lambda: get("/series/lean-1?format=senml")) == 1
        assert jobs(lambda: _remote_read(
            c, [LabelMatcher("__name__", "lean")], streamed=True
        )) <= 2


def test_empty_match_answers_broadcast_body_and_reads_nothing(
    spark, zoned, spark_jobs, monkeypatch
):
    from sensapp_spark.operators import selection
    from sensapp_spark.operators.matchers import LabelMatcher
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import decode_read_response

    query = "/api/v1/query?query=nothing[100000h]&format="
    app = create_app(spark, zoned)
    with app.test_client() as c:
        id_keyed = {f: c.get(query + f).get_data() for f in FORMATS}
        before = spark_jobs()
        samples = _remote_read(c, [LabelMatcher("__name__", "nothing")],
                               streamed=False)
        streamed = _remote_read(c, [LabelMatcher("__name__", "nothing")],
                                streamed=True)
        assert spark_jobs() == before
        # The over-cap plan, forced: what the empty match answered
        # before the id-keyed path.
        monkeypatch.setattr(selection, "probe_sensor_rows",
                            lambda *a, **k: None)
        broadcast = {f: c.get(query + f).get_data() for f in FORMATS}
    assert id_keyed == broadcast
    assert decode_read_response(snappy_codec.decompress(samples)) == [[]]
    assert streamed == b""


@pytest.fixture(scope="module")
def plan_bodies(spark, lean):
    """Every export format and both remote-read response types, through
    the id-keyed plan and through the broadcast plan (probe cap 0)."""
    from sensapp_spark.operators.matchers import LabelMatcher

    lake, _ = lean
    matchers = [LabelMatcher("__name__", "lean")]
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        for key, cap in (("id_keyed", None), ("broadcast", 0)):
            if cap is not None:
                mp.setattr("sensapp_spark.storage.lake.ZONEMAP_PROBE_MAX", cap)
            app = create_app(spark, lake)
            with app.test_client() as c:
                out[key] = {f: c.get(QUERY + f).get_data() for f in FORMATS}
                for streamed in (False, True):
                    out[key][f"read-{streamed}"] = _remote_read(
                        c, matchers, streamed
                    )
    return out


@pytest.mark.parametrize(
    "body", FORMATS + ("read-False", "read-True")
)
def test_id_keyed_plan_bodies_equal_broadcast_plan(plan_bodies, body):
    assert plan_bodies["id_keyed"][body]
    assert plan_bodies["id_keyed"][body] == plan_bodies["broadcast"][body]


def test_parity_bodies_cover_quoting_no_labels_and_null_unit(plan_bodies):
    import json

    csv = plan_bodies["id_keyed"]["csv"].decode()
    assert ',"x,y",b' in csv
    assert csv.splitlines()[17].endswith(",,")
    senml = json.loads(plan_bodies["id_keyed"]["senml"])
    units = {r["bn"]: r.get("bu") for r in senml if "bn" in r}
    assert units == {"lean-0": None, "lean-1": "°C", "lean-2": "°C"}


def test_sql_literals_keep_every_character(spark):
    """``sql_str``, ``ids_in`` and ``with_sensor_meta`` build one SQL
    string each; quotes, backslashes, comment markers, newlines and
    non-ASCII text come back unchanged, and no ids match nothing."""
    from pyspark.sql import Row

    from sensapp_spark.operators.selection import (
        ids_in,
        sql_str,
        with_sensor_meta,
    )

    tricky = ["it's", 'say "hi"', "back\\slash", "\\'", "-- x", "a\nb",
              "°C ü", "${x}", ""]
    got = spark.range(1).select(
        *(F.expr(sql_str(s)).alias(f"c{i}") for i, s in enumerate(tricky))
    ).first()
    assert list(got) == tricky
    assert spark.range(1).select(F.expr(sql_str(None))).first()[0] is None

    ids = ["a'b", "c\\d"]
    df = spark.createDataFrame([(i,) for i in ids + ["e"]], "sensor_id string")
    assert sorted(r.sensor_id for r in df.filter(ids_in(ids)).collect()) == ids
    assert df.filter(ids_in([])).collect() == []

    rows = [Row(sensor_id="a'b", name="n'\\", type="Float", unit=None,
                unit_description="d\nx", labels=[("k'", "v\\"), ("a", "°")])]
    out = {r.sensor_id: r for r in with_sensor_meta(df, rows).collect()}
    hit = out["a'b"]
    assert (hit.name, hit.type, hit.unit, hit.unit_description) == (
        "n'\\", "Float", None, "d\nx")
    assert list(hit.labels.items()) == [("k'", "v\\"), ("a", "°")]
    assert out["e"].name is None and out["e"].labels is None
