"""Golden ingest→export round-trip corpus (reference conformance ports:
tests/simple_promql.rs per-format output checks, tests/query_export.rs
394-452 CSV round-trip integrity).

Fixture CSV/SenML are ingested through the HTTP gateway, queried back
through the PromQL and series endpoints, and every export format is
BYTE-compared against a committed golden file under ``tests/golden/``.
Any format drift — header wording, float rendering, RFC3339 shape,
quoting, SenML record layout, Arrow IPC framing — fails the suite.

Stability of the goldens rests on: deterministic sensor UUIDs (byte-
exact BLAKE3 parity with the reference), fixture-pinned timestamps,
exporter edge sorts (sensor_id, time), and sorted label-key unions.

To regenerate after an INTENTIONAL format change:

    GOLDEN_REGEN=1 python -m pytest tests/test_golden_roundtrip.py

then review the diff like any code change.
"""

from __future__ import annotations

import json
import os
import pathlib

import pytest

from sensapp_spark.server.app import create_app
from sensapp_spark.storage.lake import SensorLake

GOLDEN_DIR = pathlib.Path(__file__).parent / "golden"
REGEN = os.environ.get("GOLDEN_REGEN") == "1"

MULTI_CSV = (GOLDEN_DIR / "input_multi.csv").read_text()
_READ_HEADERS = {
    "content-encoding": "snappy",
    "content-type": "application/x-protobuf",
    "x-prometheus-remote-read-version": "0.1.0",
}
SENML_IN = (GOLDEN_DIR / "input_pressure.senml.json").read_text()


def check_golden(name: str, payload: bytes) -> None:
    path = GOLDEN_DIR / name
    if REGEN:
        path.write_bytes(payload)
        return
    assert path.exists(), f"golden file {name} missing — run GOLDEN_REGEN=1"
    expected = path.read_bytes()
    assert payload == expected, (
        f"{name}: export drifted from golden ({len(payload)} vs "
        f"{len(expected)} bytes) — if intentional, regenerate with "
        "GOLDEN_REGEN=1 and review the diff"
    )


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    """Gateway over a FRESH lake holding only this module's fixtures, so
    goldens never depend on other tests' ingestions."""
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("golden_lake")))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        r = c.post("/publish", data=MULTI_CSV, content_type="text/csv")
        assert r.status_code == 200, r.get_data()
        r = c.post("/publish", data=SENML_IN, content_type="application/json")
        assert r.status_code == 200, r.get_data()
        yield c


# ---------------------------------------------------------------------------
# PromQL query endpoint, every format (simple_promql.rs conformance edge)
# ---------------------------------------------------------------------------

PROMQL = "/api/v1/query?query=temperature[1000000h]&format="


def test_golden_promql_csv(client):
    r = client.get(PROMQL + "csv")
    assert r.status_code == 200
    check_golden("promql_temperature.csv", r.get_data())


def test_golden_promql_jsonl(client):
    r = client.get(PROMQL + "jsonl")
    assert r.status_code == 200
    check_golden("promql_temperature.jsonl", r.get_data())


def test_golden_promql_senml(client):
    r = client.get(PROMQL + "senml")
    assert r.status_code == 200
    # Canonical compact JSON so the golden is insensitive to HTTP
    # prettification but pins keys, order, and every value byte.
    body = json.dumps(r.get_json(), separators=(",", ":"), sort_keys=False)
    check_golden("promql_temperature.senml.json", body.encode())


def test_golden_promql_arrow(client):
    r = client.get(PROMQL + "arrow")
    assert r.status_code == 200
    check_golden("promql_temperature.arrow", r.get_data())


def test_golden_promql_parquet_content(client):
    """Parquet bytes are not stable across pyarrow versions (metadata,
    encodings), so the pin is the DECODED content: schema (names +
    types) and every row, rendered canonically. Any drift in column
    layout, types, value text, or row order fails; a pure
    recompression does not."""
    import io

    import pyarrow.parquet as pq

    r = client.get(PROMQL + "parquet")
    assert r.status_code == 200
    table = pq.read_table(io.BytesIO(r.get_data()))
    doc = {
        "schema": [[f.name, str(f.type)] for f in table.schema],
        "num_rows": table.num_rows,
        "rows": [
            [str(v) for v in row.values()] for row in table.to_pylist()
        ],
    }
    check_golden(
        "promql_temperature.parquet.json",
        json.dumps(doc, separators=(",", ":")).encode(),
    )


# ---------------------------------------------------------------------------
# Single-series fetch by UUID (query_export.rs:394-452 round-trip edge)
# ---------------------------------------------------------------------------

def _series_uuid(client, metric: str) -> str:
    doc = client.get(f"/series?metric={metric}").get_json()
    (ds,) = doc["dcat:dataset"]
    return ds["dct:identifier"]


def test_golden_series_uuid_stable(client):
    """The UUID embedded in the goldens is the deterministic BLAKE3
    identity — if this changes, every cross-engine diff breaks, so pin
    it explicitly too."""
    check_golden(
        "series_uuids.json",
        json.dumps(
            {
                "temperature": _series_uuid(client, "temperature"),
                "humidity": _series_uuid(client, "humidity"),
                "pressure": _series_uuid(client, "pressure"),
            },
            separators=(",", ":"),
        ).encode(),
    )


def test_golden_series_csv(client):
    uuid = _series_uuid(client, "temperature")
    r = client.get(f"/series/{uuid}?format=csv")
    assert r.status_code == 200
    check_golden("series_temperature.csv", r.get_data())


def test_golden_series_senml_roundtrip(client):
    """SenML in → SenML out: the reference's round-trip integrity check
    (same samples, canonical base-time layout)."""
    uuid = _series_uuid(client, "pressure")
    r = client.get(f"/series/{uuid}?format=senml")
    assert r.status_code == 200
    body = json.dumps(r.get_json(), separators=(",", ":"), sort_keys=False)
    check_golden("series_pressure.senml.json", body.encode())


def test_golden_series_jsonl(client):
    uuid = _series_uuid(client, "humidity")
    r = client.get(f"/series/{uuid}?format=jsonl")
    assert r.status_code == 200
    check_golden("series_humidity.jsonl", r.get_data())


# ---------------------------------------------------------------------------
# DCAT catalog surface (C3/C4 JSON-LD templating)
# ---------------------------------------------------------------------------

def test_golden_dcat_metrics(client):
    doc = client.get("/metrics").get_json()
    # Catalog order: sort datasets by @id so the golden is insensitive
    # to aggregation partition order, then pin every byte of the
    # JSON-LD templating (contexts, keywords, units, series counts).
    doc["dcat:dataset"] = sorted(doc["dcat:dataset"], key=lambda d: d["@id"])
    check_golden(
        "dcat_metrics.json",
        json.dumps(doc, separators=(",", ":"), sort_keys=True).encode(),
    )


def test_golden_dcat_series(client):
    doc = client.get("/series?metric=temperature").get_json()
    doc["dcat:dataset"] = sorted(
        doc["dcat:dataset"], key=lambda d: d["dct:identifier"]
    )
    check_golden(
        "dcat_series_temperature.json",
        json.dumps(doc, separators=(",", ":"), sort_keys=True).encode(),
    )


# ---------------------------------------------------------------------------
# InfluxDB line-protocol ingest edge (S4) → export
# ---------------------------------------------------------------------------

INFLUX_LINES = (
    "weather,site=golden temp=11.5,hum=63i 1700000000000000000\n"
    "weather,site=golden temp=12.25,hum=61i 1700000060000000000\n"
    "weather,site=other temp=9.0 1700000120000000000\n"
)


@pytest.fixture(scope="module")
def influx_client(client):
    r = client.post("/api/v2/write?bucket=golden&org=test", data=INFLUX_LINES)
    assert r.status_code == 204, r.get_data()
    return client


def test_golden_influx_csv(influx_client):
    # Sensor name is urlencode(measurement) + ' ' + urlencode(field)
    # (reference influxdb.rs:53-61); labels carry tags + bucket/org.
    doc = influx_client.get("/series?metric=weather%20temp").get_json()
    ids = sorted(
        (
            {k: v for d in ds["sensor:labels"] for k, v in d.items()}["site"],
            ds["dct:identifier"],
        )
        for ds in doc["dcat:dataset"]
    )
    assert [s for s, _ in ids] == ["golden", "other"]
    r = influx_client.get(f"/series/{ids[0][1]}?format=csv")
    assert r.status_code == 200
    check_golden("influx_weather_temp.csv", r.get_data())


def test_golden_influx_integer_field_jsonl(influx_client):
    doc = influx_client.get("/series?metric=weather%20hum").get_json()
    (ds,) = doc["dcat:dataset"]
    r = influx_client.get(f"/series/{ds['dct:identifier']}?format=jsonl")
    assert r.status_code == 200
    check_golden("influx_weather_hum.jsonl", r.get_data())
    rows = [json.loads(x) for x in r.get_data(as_text=True).splitlines()]
    assert [x["value"] for x in rows] == [63, 61]
    assert all(x["type"] == "integer" for x in rows)


# ---------------------------------------------------------------------------
# Prometheus remote write → remote read wire round trip (S5 + X6)
# ---------------------------------------------------------------------------

def test_golden_prometheus_read_response(client):
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import (
        ReadQuery,
        TimeSeries,
        encode_read_request,
        encode_write_request,
    )

    body = snappy_codec.compress(
        encode_write_request(
            [
                TimeSeries(
                    labels=[("__name__", "golden_metric"), ("env", "prod")],
                    samples=[(9.5, 1700000000000), (10.25, 1700000060000)],
                )
            ]
        )
    )
    headers = {
        "content-encoding": "snappy",
        "content-type": "application/x-protobuf",
        "x-prometheus-remote-write-version": "0.1.0",
    }
    assert (
        client.post(
            "/api/v1/prometheus_remote_write", data=body, headers=headers
        ).status_code
        == 204
    )

    req = snappy_codec.compress(
        encode_read_request(
            [
                ReadQuery(
                    start_ms=1699999000000,
                    end_ms=1700001000000,
                    matchers=[
                        LabelMatcher(
                            "__name__", "golden_metric", MatcherType.EQUAL
                        )
                    ],
                )
            ]
        )
    )
    r = client.post(
        "/api/v1/prometheus_remote_read", data=req, headers=_READ_HEADERS
    )
    assert r.status_code == 200
    # Golden-pin the DECOMPRESSED protobuf ReadResponse: label order,
    # varint encoding, sample layout — the X6 wire format itself
    # (reference converter.rs:22-120).
    check_golden(
        "prometheus_read_response.pb",
        snappy_codec.decompress(r.get_data()),
    )


def test_golden_prometheus_streamed_chunks(client):
    """STREAMED_XOR_CHUNKS negotiation end-to-end: uvarint length +
    CRC32C framing around ChunkedReadResponse protobufs carrying
    Gorilla XOR chunks (X7; reference stream_writer.rs:7-13). Depends
    on test_golden_prometheus_read_response having published
    golden_metric (module order)."""
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import (
        RESPONSE_TYPE_STREAMED_XOR_CHUNKS,
        ReadQuery,
        encode_read_request,
    )

    req = snappy_codec.compress(
        encode_read_request(
            [
                ReadQuery(
                    start_ms=1699999000000,
                    end_ms=1700001000000,
                    matchers=[
                        LabelMatcher(
                            "__name__", "golden_metric", MatcherType.EQUAL
                        )
                    ],
                )
            ],
            accepted=[RESPONSE_TYPE_STREAMED_XOR_CHUNKS],
        )
    )
    r = client.post(
        "/api/v1/prometheus_remote_read", data=req, headers=_READ_HEADERS
    )
    assert r.status_code == 200
    check_golden("prometheus_streamed_chunks.bin", r.get_data())


def test_golden_xor_chunk_stream():
    # X7: Gorilla/XOR chunk bytes for a fixed sample set — pins the
    # bit-level framing (reference chunk_encoder.rs:20-97 via
    # rusty_chunkenc). Round-trip asserted too, so a regeneration that
    # breaks symmetry cannot slip through.
    from sensapp_spark.wire.xorchunk import decode_xor_chunk, encode_xor_chunk

    samples = [
        (1700000000000, 20.5),
        (1700000015000, 20.5),
        (1700000030000, 21.25),
        (1700000045500, 19.75),
        (1700000060000, -3.375),
    ]
    chunk = encode_xor_chunk(samples)
    assert decode_xor_chunk(chunk) == samples
    check_golden("xor_chunk.bin", chunk)


# ---------------------------------------------------------------------------
# Integrity invariants that hold regardless of golden regeneration
# (ported assertions from query_export.rs:360-389)
# ---------------------------------------------------------------------------

def test_csv_round_trip_row_count(client):
    r = client.get(PROMQL + "csv")
    exported = r.get_data(as_text=True)
    # input_multi.csv: header + 3 temperature rows (+ humidity rows that
    # must NOT appear in a temperature query).
    lines = exported.strip().splitlines()
    assert len(lines) == 1 + 3
    assert lines[0].startswith("timestamp,sensor_id,sensor_name")
    assert all("temperature" in ln for ln in lines[1:])
    assert "humidity" not in exported
    for v in ("20.5", "21.0", "21.5"):
        assert v in exported


def test_jsonl_parses_and_matches_input_values(client):
    r = client.get(PROMQL + "jsonl")
    rows = [json.loads(x) for x in r.get_data(as_text=True).splitlines()]
    assert [x["value"] for x in rows] == [20.5, 21.0, 21.5]
    assert all(x["sensor_name"] == "temperature" for x in rows)


def test_arrow_parses_and_matches_input_values(client):
    import io

    import pyarrow as pa

    r = client.get(PROMQL + "arrow")
    table = pa.ipc.open_file(io.BytesIO(r.get_data())).read_all()
    assert table.num_rows == 3
    # Multi-sensor Arrow is the long layout with stringified values
    # (arrow_exporter.multi_row_frame) — one schema across all types.
    assert sorted(table.column("value").to_pylist()) == ["20.5", "21.0", "21.5"]
    assert table.column("sensor_name").to_pylist() == ["temperature"] * 3


# ---------------------------------------------------------------------------
# Arrow IPC ingest edge (S3) → export: the last wire format without a
# golden fixture (reference tests/arrow_integration.rs — publish an IPC
# file, query back, check values/types survive byte-exactly)
# ---------------------------------------------------------------------------

ARROW_POWER = (GOLDEN_DIR / "input_power.arrow").read_bytes()
ARROW_COUNT = (GOLDEN_DIR / "input_count.arrow").read_bytes()


@pytest.fixture(scope="module")
def arrow_client(client):
    for payload in (ARROW_POWER, ARROW_COUNT):
        r = client.post(
            "/publish",
            data=payload,
            content_type="application/vnd.apache.arrow.file",
        )
        assert r.status_code == 200, r.get_data()
    return client


def test_golden_arrow_ingest_csv(arrow_client):
    """input_power.arrow (float64, two sensor_names) → per-series CSV."""
    uuid = _series_uuid(arrow_client, "power_a")
    r = arrow_client.get(f"/series/{uuid}?format=csv")
    assert r.status_code == 200
    check_golden("arrow_power_a.csv", r.get_data())


def test_golden_arrow_ingest_jsonl(arrow_client):
    uuid = _series_uuid(arrow_client, "power_b")
    r = arrow_client.get(f"/series/{uuid}?format=jsonl")
    assert r.status_code == 200
    check_golden("arrow_power_b.jsonl", r.get_data())


def test_golden_arrow_ingest_arrow_roundtrip(arrow_client):
    """Arrow in → Arrow out: IPC framing both directions."""
    uuid = _series_uuid(arrow_client, "power_a")
    r = arrow_client.get(f"/series/{uuid}?format=arrow")
    assert r.status_code == 200
    check_golden("arrow_power_a.arrow", r.get_data())


def test_golden_arrow_ingest_int64_nameless(arrow_client):
    """input_count.arrow has no sensor_name column → default name,
    Int64 value → Integer sensor type (arrow.rs:143-296 dispatch)."""
    uuid = _series_uuid(arrow_client, "arrow_sensor")
    r = arrow_client.get(f"/series/{uuid}?format=jsonl")
    assert r.status_code == 200
    check_golden("arrow_count.jsonl", r.get_data())
    rows = [json.loads(x) for x in r.get_data(as_text=True).splitlines()]
    assert [x["value"] for x in rows] == [41, 42, 43, 44]
    assert all(x["type"] == "integer" for x in rows)


def test_arrow_ingest_values_roundtrip(arrow_client):
    """Integrity regardless of regeneration: the float values survive
    ingest→storage→export exactly (power-of-two fractions: lossless)."""
    uuid = _series_uuid(arrow_client, "power_a")
    r = arrow_client.get(f"/series/{uuid}?format=jsonl")
    rows = [json.loads(x) for x in r.get_data(as_text=True).splitlines()]
    assert [x["value"] for x in rows] == [230.5, 231.25, 229.75]
