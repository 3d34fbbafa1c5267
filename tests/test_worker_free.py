"""Worker-free serving path: every driver-side frame is an Arrow-built
``LocalRelation``.

A frame built by ``spark.createDataFrame(<list>, schema)`` plans as
``Scan ExistingRDD`` over a ``PythonRDD``; its first action starts the
``pyspark.daemon`` and one Python worker per task, even to return 0
rows. ``ingest/frames.arrow_frame`` is the one constructor the serving
packages use instead: its frames plan as ``LocalTableScan``, an empty
one collects with no Spark job, and none needs a Python worker.
"""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.ingest.frames import arrow_frame
from sensapp_spark.operators.catalog import label_names
from sensapp_spark.storage.lake import SensorLake
from sensapp_spark.storage.qrollup import QuantileRollupStore
from sensapp_spark.storage.rollup import RollupStore, SketchRollupStore

REPO = pathlib.Path(__file__).resolve().parents[1]
SERVING = ("storage", "server", "query", "operators", "exporters",
           "ingest", "streaming")
CONSTRUCTOR = REPO / "sensapp_spark" / "ingest" / "frames.py"


def test_serving_packages_build_frames_only_through_arrow_frame():
    calls = []
    for pkg in SERVING:
        for path in sorted((REPO / "sensapp_spark" / pkg).rglob("*.py")):
            if path == CONSTRUCTOR:
                continue
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"):
                    calls.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert calls == [], (
        "build driver-side frames with ingest.frames.arrow_frame: "
        f"{calls}"
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


EMPTY_FRAMES = {
    "sensors": lambda lake: lake.sensors(),
    "values": lambda lake: lake.values(SensorType.FLOAT),
    "values_no_ids": lambda lake: lake.values(SensorType.FLOAT,
                                              sensor_ids=[]),
    "changes": lambda lake: lake.changes(SensorType.FLOAT)[0],
    "changes_cdc": lambda lake: lake.changes(SensorType.FLOAT, cdc=True)[0],
    "rollup": lambda lake: RollupStore(lake).read(SensorType.FLOAT),
    "sketch_rollup": lambda lake: SketchRollupStore(lake).read(
        SensorType.FLOAT),
    "quantile_rollup": lambda lake: QuantileRollupStore(lake).read(
        SensorType.FLOAT),
    "label_names": lambda lake: label_names(lake.sensors()),
}


@pytest.mark.parametrize("name", sorted(EMPTY_FRAMES))
def test_nothing_here_frames_are_local_and_run_no_job(
        spark, spark_jobs, tmp_path, name):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    df = EMPTY_FRAMES[name](lake)
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    before = spark_jobs()
    rows = df.collect()
    assert spark_jobs() == before
    assert rows == ([("__name__",)] if name == "label_names" else [])


def test_rollup_read_keeps_the_declared_schema(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "lake"))
    for store in (RollupStore(lake), SketchRollupStore(lake),
                  QuantileRollupStore(lake)):
        want = spark.createDataFrame([], store.SCHEMA).schema
        assert store.read(SensorType.FLOAT).schema == want


def test_arrow_frame_takes_a_ddl_schema_and_an_arrow_table(spark):
    ddl = "sensor_id string, cnt long, kmv array<long>"
    df = arrow_frame(spark, [("a", 1, [1, 2])], ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert [tuple(r) for r in df.collect()] == [("a", 1, [1, 2])]
    table = pa.table({"sensor_id": ["b"], "cnt": pa.array([2], pa.int64()),
                      "kmv": pa.array([[3]], pa.list_(pa.int64()))})
    got = arrow_frame(spark, table, ddl)
    assert "ExistingRDD" not in _plan(got)
    assert [tuple(r) for r in got.collect()] == [("b", 2, [3])]


# -- no Python worker under the JVM after a whole gateway session -----------

# Runs in a fresh interpreter (so no earlier test has started workers):
# writes through every wire route, maintains once, reads every read
# route, then holds the session open until stdin closes.
_GATEWAY_SESSION = textwrap.dedent("""
    import sys
    from urllib.parse import quote

    sys.path.insert(0, {tests!r})
    import test_gateway_lean_writes as W
    from sensapp_spark.datamodel.sensor import sensor_uuid
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
    from sensapp_spark.server.app import create_app
    from sensapp_spark.session import get_spark
    from sensapp_spark.storage.lake import SensorLake
    from sensapp_spark.wire.prompb import (
        RESPONSE_TYPE_STREAMED_XOR_CHUNKS, ReadQuery, encode_read_request)

    spark = get_spark(app_name="worker-free", master="local[2]",
                      shuffle_partitions=2)
    app = create_app(spark, SensorLake(spark, {lake!r}))
    app.config["TESTING"] = True
    client = app.test_client()
    for write, _ in W.WRITERS.values():
        write(client, W.T0)
    r = client.post("/api/v1/admin/maintain?sketch_grains=3600")
    assert r.status_code == 200, r.data
    sid = sensor_uuid("rw", SensorType.FLOAT, None, {{"host": "a"}})
    t, te = W.T0, W.T0 + 3600
    win = f"start={{t}}&end={{te}}"
    for url in [
        "/", "/health/ready", "/metrics", "/series?metric=rw",
        "/api/v1/query?format=csv&query=" + quote('rw{{host="a"}}[3650d]'),
        "/api/v1/query?extended=1&query="
        + quote(f"sum by (host) (avg_over_time(rw[1h] @ {{te}}))"),
        "/api/v1/query_range?step=3600&" + win + "&query="
        + quote('avg_over_time(rw{{host="a"}}[1h])'),
        "/api/v1/labels", "/api/v1/label/host/values",
        f"/series/{{sid}}?format=senml",
        "/api/v1/rollup?" + win,
        "/api/v1/rollup/distinct?" + win,
        f"/api/v1/rollup/heavy?sensor_ids={{sid}}&" + win,
        f"/api/v1/admin/stats?sensor_ids={{sid}}",
    ]:
        r = client.get(url)
        assert r.status_code == 200, (url, r.status_code, r.data[:300])
        assert r.get_data(), url
    body = W.snappy_codec.compress(encode_read_request(
        [ReadQuery(t * 1000, (t + 86400) * 1000,
                   [LabelMatcher("__name__", "rw", MatcherType("="))])],
        [RESPONSE_TYPE_STREAMED_XOR_CHUNKS]))
    r = client.post("/api/v1/prometheus_remote_read", data=body,
                    headers={{**W.PROM_HEADERS,
                              "x-prometheus-remote-read-version": "0.1.0"}})
    assert r.status_code == 200 and r.get_data(), r.data[:300]
    print("OK", flush=True)
    sys.stdin.read()
""")


def _descendants(root: int) -> list[tuple[int, str]]:
    """(pid, command name) of every descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            try:
                with open(f"/proc/{child}/comm") as fh:
                    out.append((child, fh.read().strip()))
            except OSError:
                continue
            todo.append(child)
    return out


def test_gateway_session_starts_no_python_worker(tmp_path):
    script = _GATEWAY_SESSION.format(tests=str(REPO / "tests"),
                                     lake=str(tmp_path / "lake"))
    log = tmp_path / "session.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, "-c", script], cwd=REPO, text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
        )
    try:
        ready = proc.stdout.readline().strip()
        assert ready == "OK", log.read_text()[-3000:]
        tree = _descendants(proc.pid)
        assert any(comm == "java" for _, comm in tree), tree
        assert [p for p in tree if p[1].startswith("python")] == []
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    assert proc.returncode == 0
