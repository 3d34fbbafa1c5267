"""Streamed HTTP export path: above ``stream_threshold`` rows the gateway
serves CSV/JSONL/Arrow/Parquet/SenML as chunked responses with bounded
driver memory (each format's assembler over ``toLocalIterator`` rows)
instead of one body — the one reference behavior SURVEY §7.4 risk 10
says NOT to copy at scale (the reference builds the whole export string
driver-side up to its 10M-row limit, src/storage/mod.rs:15-17).

Reference bodies come from a default-threshold app, whose bytes the
gateway goldens pin; every big-path response must be streamed
(``is_streamed``), so a regression back to one collected body fails
loudly.
"""

from __future__ import annotations

import io
import json

import pyarrow.ipc as ipc
import pytest

from sensapp_spark.server.app import create_app
from sensapp_spark.storage.lake import SensorLake

N_ROWS = 24
QUERY = "/api/v1/query?query=streamtemp[100000h]&format="


def _fixture_csv() -> str:
    lines = ["datetime,sensor_name,value,unit"]
    for i in range(N_ROWS):
        lines.append(
            f"2024-01-01T00:{i:02d}:00Z,streamtemp,{20 + i * 0.5},°C"
        )
    return "\n".join(lines) + "\n"


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake_stream")))
    streaming = create_app(spark, lake, stream_threshold=5)
    default = create_app(spark, lake)
    streaming.testing = default.testing = True
    with default.test_client() as c:
        assert c.post(
            "/publish", data=_fixture_csv(), content_type="text/csv"
        ).status_code == 200
    expected = {}
    for fmt in ("csv", "jsonl", "arrow", "senml", "parquet"):
        r = _served(default, QUERY + fmt)
        assert not r.is_streamed  # one body under the threshold
        expected[fmt] = r.get_data()
    return streaming, expected


def _served(app, path: str):
    """The view's own Response: the test client wraps every body in an
    iterator, so only this object tells a stream from one body."""
    with app.test_request_context(path):
        r = app.full_dispatch_request()
    assert r.status_code == 200
    return r


def _streamed(app, fmt: str):
    r = _served(app, QUERY + fmt)
    assert r.is_streamed
    return r


@pytest.mark.parametrize("fmt", ["csv", "jsonl"])
def test_streamed_text_bytes_equal_collected(env, fmt):
    streaming, expected = env
    streamed = _streamed(streaming, fmt).get_data()
    assert streamed == expected[fmt]
    assert streamed.decode().count("streamtemp") >= N_ROWS


def test_streamed_arrow_parses_equal(env):
    streaming, expected = env
    r = _streamed(streaming, "arrow")
    got = ipc.open_file(io.BytesIO(r.get_data())).read_all()
    want = ipc.open_file(io.BytesIO(expected["arrow"])).read_all()
    # Same schema and values; the streamed file carries multiple record
    # batches (chunk_rows at a time) instead of one.
    assert got.schema.names == want.schema.names
    assert got.combine_chunks().to_pydict() == want.combine_chunks().to_pydict()


def test_streamed_parquet_parses_equal(env):
    """Above threshold the parquet body streams one row group per chunk
    (ParquetWriter over the chunk sink); the streamed file reads back
    with the same schema names and values as the single-row-group
    small body."""
    import pyarrow.parquet as pq

    streaming, expected = env
    r = _streamed(streaming, "parquet")
    got = pq.read_table(io.BytesIO(r.get_data()))
    want = pq.read_table(io.BytesIO(expected["parquet"]))
    assert got.schema.names == want.schema.names
    assert got.combine_chunks().to_pydict() == want.combine_chunks().to_pydict()
    assert got.num_rows == N_ROWS


def test_streamed_senml_parses_equal(env):
    streaming, expected = env
    r = _streamed(streaming, "senml")
    got = json.loads(r.get_data(as_text=True))
    want = json.loads(expected["senml"].decode())
    assert got == want
    assert got[0]["bver"] == 10 and len(got) == N_ROWS


def test_small_export_assembles_full_body(env):
    """Below the threshold the peek-ahead path assembles one complete
    body (header + rows + trailing newline) — golden byte shapes are
    preserved."""
    streaming, _ = env
    with streaming.test_client() as c:
        r = c.get("/series?metric=streamtemp")
        assert r.status_code == 200
        sensor_id = r.get_json()["dcat:dataset"][0]["dct:identifier"]
        r = c.get(f"/series/{sensor_id}?format=csv&limit=3")
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    assert body.count("\n") == 4  # header + 3 rows
    assert body.startswith("timestamp,sensor_id,sensor_name")
    assert body.endswith("\n") and not body.endswith("\n\n")
