"""HTTP gateway integration tests (S6 + C3/C4 DCAT) — the route surface
of reference src/ingestors/http/server.rs, driven through the Flask test
client against a real lake."""

from __future__ import annotations

import json

import pytest

from sensapp_spark.server.app import create_app
from sensapp_spark.storage.lake import SensorLake

PROM_WRITE_HEADERS = {
    "content-encoding": "snappy",
    "content-type": "application/x-protobuf",
    "x-prometheus-remote-write-version": "0.1.0",
}
PROM_READ_HEADERS = {
    "content-encoding": "snappy",
    "content-type": "application/x-protobuf",
    "x-prometheus-remote-read-version": "0.1.0",
}

CSV = """datetime,sensor_name,value,unit
2024-01-01T00:00:00Z,temperature,20.5,°C
2024-01-01T00:01:00Z,temperature,21.0,°C
2024-01-01T00:00:00Z,humidity,65.0,%
"""


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake")))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        yield c


def test_health(client):
    assert client.get("/health").get_json() == {"status": "ok"}


def test_frontpage(client):
    # Reference returns the instance name as a bare JSON string
    # (server.rs:151-155).
    r = client.get("/")
    assert r.status_code == 200
    assert isinstance(r.get_json(), str)


def test_health_live(client):
    r = client.get("/health/live")
    assert r.status_code == 200
    assert r.get_json() == {"status": "ok"}


def test_openapi_docs(client):
    # /docs serves the OpenAPI 3 document the reference builds with its
    # ApiDoc derive (server.rs:40-52,84).
    doc = client.get("/docs").get_json()
    assert doc["openapi"].startswith("3.")
    assert doc["info"]["title"] == "SensApp API"
    assert {t["name"] for t in doc["tags"]} == {
        "SensApp", "InfluxDB", "Prometheus", "Admin", "Health",
    }
    paths = doc["paths"]
    for route in ("/", "/publish", "/metrics", "/series",
                  "/series/{sensor_id}", "/api/v2/write",
                  "/api/v1/prometheus_remote_write",
                  "/api/v1/prometheus_remote_read", "/api/v1/query",
                  "/api/v1/admin/vacuum", "/health/live", "/health/ready"):
        assert route in paths, route
    assert "post" in paths["/publish"]
    assert "get" in paths["/api/v1/query"]


def test_health_ready(client):
    # Readiness probes storage (health.rs:53-76): on a healthy lake the
    # response mirrors ReadinessResponse{status, database}.
    r = client.get("/health/ready")
    assert r.status_code == 200
    assert r.get_json() == {"status": "ready", "database": "ok"}


def test_publish_csv_and_query(client):
    r = client.post("/publish", data=CSV, content_type="text/csv")
    assert r.status_code == 200, r.get_data()

    # PromQL instant query within lookback won't match 2024 data; use a
    # matrix selector long enough to reach it — or query via /series.
    r = client.get("/api/v1/query?query=temperature[100000h]&format=csv")
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    assert body.splitlines()[0].startswith("timestamp,sensor_id,sensor_name")
    assert "temperature,20.5,float" in body
    assert "humidity" not in body


def test_promql_rejection_didactic(client):
    r = client.get("/api/v1/query?query=sum(temperature)")
    assert r.status_code == 400
    assert "Aggregation" in r.get_json()["error"]


def test_invalid_format(client):
    r = client.get("/api/v1/query?query=temperature&format=xml")
    assert r.status_code == 400


def test_metrics_dcat_catalog(client):
    r = client.get("/metrics")
    doc = r.get_json()
    assert doc["@type"] == "dcat:Catalog"
    names = {d["@id"] for d in doc["dcat:dataset"]}
    assert {"temperature", "humidity"} <= names
    temp = next(d for d in doc["dcat:dataset"] if d["@id"] == "temperature")
    assert temp["sensor:seriesCount"] == 1
    assert temp["sensor:unit"] == "°C"
    assert "float" in temp["dcat:keyword"]


def test_metrics_filters(client):
    doc = client.get("/metrics?name=TEMP").get_json()
    assert [d["@id"] for d in doc["dcat:dataset"]] == ["temperature"]


def test_series_catalog_and_fetch(client):
    doc = client.get("/series?metric=temperature").get_json()
    (ds,) = doc["dcat:dataset"]
    uuid = ds["dct:identifier"]
    # Fetch the series by UUID in JSONL.
    r = client.get(f"/series/{uuid}?format=jsonl")
    lines = [json.loads(x) for x in r.get_data(as_text=True).splitlines()]
    assert len(lines) == 2
    assert lines[0]["sensor_name"] == "temperature"
    assert lines[0]["value"] == 20.5


def test_series_selector(client):
    doc = client.get("/series?selector={__name__=\"humidity\"}").get_json()
    assert len(doc["dcat:dataset"]) == 1


def test_series_404(client):
    assert client.get("/series/no-such-uuid").status_code == 404


def test_series_limit_and_range(client):
    doc = client.get("/series?metric=temperature").get_json()
    uuid = doc["dcat:dataset"][0]["dct:identifier"]
    r = client.get(f"/series/{uuid}?format=jsonl&limit=1")
    assert len(r.get_data(as_text=True).splitlines()) == 1
    r = client.get(
        f"/series/{uuid}?format=jsonl&start=2024-01-01T00:00:30Z")
    lines = r.get_data(as_text=True).splitlines()
    assert len(lines) == 1 and json.loads(lines[0])["value"] == 21.0


def test_series_rejects_malformed_int_args(client):
    """limit and at_seq are parsed by hand: a malformed or negative
    value is a 400, never a silently unbounded export (limit=abc) or a
    Spark error (limit=-1); limit=0 still means no limit."""
    doc = client.get("/series?metric=temperature").get_json()
    uuid = doc["dcat:dataset"][0]["dct:identifier"]
    for arg in ("limit=-1", "limit=abc", "limit=1.5", "at_seq=-1"):
        r = client.get(f"/series/{uuid}?format=jsonl&{arg}")
        assert r.status_code == 400, arg
        assert arg.split("=")[0] in r.get_json()["error"]
    full = client.get(f"/series/{uuid}?format=jsonl").get_data()
    assert client.get(f"/series/{uuid}?format=jsonl&limit=0").get_data() == full
    assert full.count(b"\n") == 2


@pytest.mark.parametrize(
    "path", ["/api/v1/labels", "/api/v1/label/__name__/values"]
)
def test_label_routes_reject_malformed_limit(client, path):
    """The label routes share the parser: limit=abc no longer falls
    back to the default cap."""
    for arg in ("abc", "-1"):
        r = client.get(f"{path}?limit={arg}")
        assert r.status_code == 400, arg
        assert "limit" in r.get_json()["error"]


def test_influx_write(client):
    r = client.post("/api/v2/write?bucket=b&precision=s",
                    data="weather,site=x temp=11.5 1700000000")
    assert r.status_code == 204
    doc = client.get("/metrics?name_regex=weather.*").get_json()
    assert len(doc["dcat:dataset"]) == 1
    assert doc["dcat:dataset"][0]["@id"] == "weather temp"


def test_prometheus_write_read_roundtrip(client):
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import (
        ReadQuery, TimeSeries, decode_read_response, encode_read_request,
        encode_write_request,
    )
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType

    body = snappy_codec.compress(encode_write_request([
        TimeSeries(labels=[("__name__", "prom_metric"), ("env", "prod")],
                   samples=[(9.5, 1700000000000)]),
    ]))
    assert client.post("/api/v1/prometheus_remote_write", data=body,
                       headers=PROM_WRITE_HEADERS).status_code == 204

    req = snappy_codec.compress(encode_read_request([
        ReadQuery(start_ms=1699999000000, end_ms=1700001000000,
                  matchers=[LabelMatcher("__name__", "prom_metric",
                                         MatcherType.EQUAL)]),
    ]))
    r = client.post("/api/v1/prometheus_remote_read", data=req,
                    headers=PROM_READ_HEADERS)
    assert r.status_code == 200
    (series,) = decode_read_response(snappy_codec.decompress(r.get_data()))
    assert dict(series[0].labels) == {"__name__": "prom_metric", "env": "prod"}
    assert series[0].samples == [(9.5, 1700000000000)]


def test_vacuum(client):
    # Self-sufficient when run alone: make sure FLOAT data exists.
    client.post("/publish", data=CSV, content_type="text/csv")
    body = client.post("/api/v1/admin/vacuum").get_json()
    assert body["status"] == "vacuumed"
    # Compaction sizing is stats-driven and reports its evidence.
    d = body["optimize"]["float"]
    assert d["source"] in ("sidecar-stats", "counted")
    assert d["files_per_month"] >= 1 and d["rows"] >= 1


def test_admin_stats_from_sidecar_sketches(client):
    """GET /api/v1/admin/stats answers from the FOLDED sidecar sketches
    (planned IO ∝ files): a published table reports a distinct-series
    estimate; an empty table reports null (hint-not-authority); the
    per-sensor probe is bounded to 64 ids."""
    client.post(
        "/publish",
        data="datetime,stats_a,stats_b\n2024-01-01T10:00:00Z,1.0,2.0\n"
             "2024-01-01T11:00:00Z,3.0,4.0\n",
        content_type="text/csv",
    )
    from sensapp_spark.datamodel.types import SensorType

    doc = client.get("/api/v1/admin/stats").get_json()
    assert set(doc) == {t.name.lower() for t in SensorType}
    # The honesty pairing holds for EVERY type regardless of module
    # order: a non-null estimate is always labeled with its source,
    # a null one never is.
    for entry in doc.values():
        assert (entry["estimated_from"] == "sidecar-sketch") == (
            entry["distinct_series_estimate"] is not None
        )
    flt = doc["float"]
    # The refresh is best-effort by contract — name the coverage gap
    # instead of crashing on None if it was skipped.
    assert flt["distinct_series_estimate"] is not None, (
        "float sidecar refresh was skipped — sketch coverage incomplete"
    )
    # Exactly-k-below-K KMV folds are exact counts; a statsfix publish
    # adds 2 series, and the shared-fixture client may have published
    # more — assert shape + positivity, not an absolute count.
    assert flt["distinct_series_estimate"] >= 2

    # Bounded per-sensor probe: known ids get >=1-row estimates
    # (count-min never undercounts), unknown ids get 0.
    sid = client.get("/series?metric=stats_a").get_json()[
        "dcat:dataset"][0]["dct:identifier"]
    # Whitespace around ids must not poison the probe keys.
    probed = client.get(
        f"/api/v1/admin/stats?sensor_ids={sid},%20nope"
    ).get_json()["float"]["series_rows_estimate"]
    assert probed is not None, "float sidecar coverage incomplete"
    assert probed[sid] >= 2 and probed["nope"] == 0

    too_many = ",".join(f"id-{i}" for i in range(65))
    r = client.get(f"/api/v1/admin/stats?sensor_ids={too_many}")
    assert r.status_code == 400


def test_publish_senml(client):
    payload = json.dumps([
        {"bn": "senml_sensor", "bt": 1704067200, "bu": "m", "v": 3.5}])
    r = client.post("/publish", data=payload, content_type="application/json")
    assert r.status_code == 200
    doc = client.get("/metrics?name=senml").get_json()
    assert doc["dcat:dataset"][0]["sensor:unit"] == "m"


def test_publish_bad_csv(client):
    r = client.post("/publish", data="a,b\nx,y\n", content_type="text/csv")
    assert r.status_code == 400


def test_extended_promql_opt_in(client):
    # Self-sufficient when run alone: (re-)publish the fixture CSV.
    # Duplicate samples don't change avg/max, so a re-publish in the
    # full-module run is harmless.
    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200

    # Without the flag: the reference's rejection, byte-compatible.
    r = client.get("/api/v1/query?query=avg_over_time(temperature[100000h])")
    assert r.status_code == 400

    # With the flag: the same expression evaluates to an instant vector.
    r = client.get(
        "/api/v1/query?query=avg_over_time(temperature[100000h])"
        "&extended=true"
    )
    assert r.status_code == 200
    result = r.get_json()["result"]
    assert len(result) == 1
    assert result[0]["value"] == pytest.approx((20.5 + 21.0) / 2)

    # Ungrouped aggregation across the selector's series.
    r = client.get(
        "/api/v1/query?query=sum(max_over_time(temperature[100000h]))"
        "&extended=true"
    )
    assert r.status_code == 200
    assert r.get_json()["result"][0]["value"] == pytest.approx(21.0)

    # Parse errors still 400 under the flag.
    r = client.get("/api/v1/query?query=sum(temperature) junk&extended=true")
    assert r.status_code == 400


def test_extended_promql_binary(client):
    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200

    # Vector * scalar keeps the series shape.
    r = client.get(
        "/api/v1/query?query=max_over_time(temperature[100000h]) * 2"
        "&extended=true"
    )
    assert r.status_code == 200
    result = r.get_json()["result"]
    assert len(result) == 1
    assert result[0]["value"] == pytest.approx(42.0)

    # Vector / vector matches the series with itself (same label set).
    r = client.get(
        "/api/v1/query?query="
        "max_over_time(temperature[100000h]) / "
        "max_over_time(temperature[100000h])&extended=true"
    )
    assert r.status_code == 200
    result = r.get_json()["result"]
    assert len(result) == 1
    assert result[0]["value"] == pytest.approx(1.0)

    # Without the flag, binary expressions keep the reference's 400.
    r = client.get("/api/v1/query?query=a / b")
    assert r.status_code == 400


def test_extended_promql_nested_aggregation(client):
    """Round-8 nested aggregations ride the same HTTP opt-in:
    selection over reduction, reduction over selection, and the
    didactic 400 for three levels. The selector names its metrics —
    the module-scoped lake accumulates other tests' publishes, so a
    bare .+ regex would sum foreign series."""
    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200

    # temperature max=21.0, humidity max=65.0. Selection over the
    # reduction: topk(1, sum(…)) rides the ungrouped inner (86 total).
    r = client.get(
        "/api/v1/query?query="
        "topk(1, sum(max_over_time({__name__=~'temperature|humidity'}[100000h])))"
        "&extended=true"
    )
    assert r.status_code == 200
    (row,) = r.get_json()["result"]
    assert row["value"] == pytest.approx(86.0)

    # Reduction over a selection keeps the value pipeline honest:
    # topk(1) picks humidity's 65.0, the outer sum passes it through.
    r = client.get(
        "/api/v1/query?query="
        "sum(topk(1, max_over_time({__name__=~'temperature|humidity'}[100000h])))"
        "&extended=true"
    )
    assert r.status_code == 200
    assert r.get_json()["result"][0]["value"] == pytest.approx(65.0)

    # Three levels: didactic 400, not a 500.
    r = client.get(
        "/api/v1/query?query=sum(sum(sum(temperature)))&extended=true"
    )
    assert r.status_code == 400
    assert "deeper than two levels" in r.get_json()["error"]


def test_extended_promql_round6_features(client):
    """Round-6 extended features ride the same HTTP opt-in: subqueries
    (pinning the WIDENED data window — the samples sit years before the
    inner lookback alone would reach), many-to-one group matching, and
    the histogram_quantile dispatch (plain-selector inner must not fall
    through to the base parser's 400)."""
    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200

    # Subquery: 20 steps of 1000h; early step windows cover the 2024
    # fixture samples only because the gateway scans
    # scan_window(eq, ...), not the bare selector window.
    r = client.get(
        "/api/v1/query?query="
        "max_over_time(avg_over_time(temperature[10000h])[20000h:1000h])"
        "&extended=true"
    )
    assert r.status_code == 200
    result = r.get_json()["result"]
    assert len(result) == 1
    assert result[0]["value"] == pytest.approx((20.5 + 21.0) / 2)

    # group_left with an aggregated one side; the label is absent on
    # every series, so all match the empty-value group.
    r = client.get(
        "/api/v1/query?query="
        "max_over_time(temperature[100000h]) / on (site) group_left "
        "sum by (site) (max_over_time(temperature[100000h]))"
        "&extended=true"
    )
    assert r.status_code == 200
    result = r.get_json()["result"]
    assert len(result) == 1
    assert result[0]["value"] == pytest.approx(1.0)

    # histogram_quantile dispatches through the extended path (a plain
    # instant selector means func=None/agg=None — previously the shape
    # that fell through to the base parser's 400).
    r = client.get(
        "/api/v1/query?query="
        "histogram_quantile(0.5, nosuchmetric_bucket)&extended=true"
    )
    assert r.status_code == 200
    assert r.get_json()["result"] == []

    # Evaluation-time operand rejections surface as 400s, never 500s.
    r = client.get(
        "/api/v1/query?query=absent(down)%2Babsent(up)&extended=true"
    )
    assert r.status_code == 400
    assert "operands in binary" in r.get_json()["error"]


def test_query_range_nested_aggregation(client):
    """Round-8 nested aggregations range-evaluate over HTTP: the outer
    level applies per step."""
    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200
    r = client.get(
        "/api/v1/query_range?query="
        "topk(1, sum(max_over_time("
        "{__name__=~'temperature|humidity'}[1m])))"
        "&start=2024-01-01T00:00:00Z&end=2024-01-01T00:02:00Z&step=120"
    )
    assert r.status_code == 200
    rows = {row["t"][:19]: row["value"] for row in r.get_json()["result"]}
    # step :00 → 20.5 + 65.0; step :02 → only temperature's 21.0 is in
    # the 1m window.
    assert rows["2024-01-01T00:00:00"] == pytest.approx(85.5)
    assert rows["2024-01-01T00:02:00"] == pytest.approx(21.0)


def test_query_range_endpoint(client):
    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200

    # Fixture samples are at 2024-01-01T00:00/00:01 (20.5, 21.0). Steps
    # at :00 and :02 with a 1m window. max_over_time is insensitive to
    # the duplicate samples accumulated by earlier tests' re-publishes.
    r = client.get(
        "/api/v1/query_range?query=max_over_time(temperature[1m])"
        "&start=2024-01-01T00:00:00Z&end=2024-01-01T00:02:00Z&step=120"
    )
    assert r.status_code == 200
    rows = {row["t"][:19]: row["value"] for row in r.get_json()["result"]}
    assert rows["2024-01-01T00:00:00"] == pytest.approx(20.5)
    assert rows["2024-01-01T00:02:00"] == pytest.approx(21.0)

    # Prometheus-style matrix grouping.
    r = client.get(
        "/api/v1/query_range?query=max_over_time(temperature[1m])"
        "&start=2024-01-01T00:00:00Z&end=2024-01-01T00:02:00Z&step=120"
        "&format=matrix"
    )
    assert r.status_code == 200
    body = r.get_json()
    assert body["data"]["resultType"] == "matrix"
    [entry] = body["data"]["result"]
    assert entry["metric"]["__name__"] == "temperature"
    assert [v for _, v in entry["values"]] == [20.5, 21.0]

    # Round 7: subqueries are range-evaluated, not rejected — the
    # handler widens the scan window by the subquery range so the
    # earliest outer step still sees its inner samples.
    r = client.get(
        "/api/v1/query_range?query=max_over_time("
        "last_over_time(temperature[1m])[2m:1m])"
        "&start=2024-01-01T00:02:00Z&end=2024-01-01T00:02:00Z&step=60"
    )
    assert r.status_code == 200
    sub_rows = {row["t"][:19]: row["value"]
                for row in r.get_json()["result"]}
    assert sub_rows["2024-01-01T00:02:00"] == pytest.approx(21.0)

    # Round 8 (advisor r7, medium): a fixed `@` anchor LATER than `end`
    # pins the sample window outside [start, end] — the scan envelope
    # must widen to cover it, or the anchored window is silently
    # truncated at `end` (here: max over [00:00, 00:01] is 21.0; a
    # scan clipped at end=00:00 would report 20.5).
    anchor = 1704067260  # 2024-01-01T00:01:00Z
    r = client.get(
        f"/api/v1/query_range?query=max_over_time(temperature%5B1m%5D"
        f"%20%40%20{anchor})"
        "&start=2024-01-01T00:00:00Z&end=2024-01-01T00:00:00Z&step=60"
    )
    assert r.status_code == 200
    [row] = r.get_json()["result"]
    assert row["value"] == pytest.approx(21.0)

    r = client.get("/api/v1/query_range?query=temperature&start=bad"
                   "&end=2024-01-01T00:00:00Z")
    assert r.status_code == 400
    # No step grid: zero, not a number, infinite, under 1 µs, or past
    # the signed 64-bit µs clock.
    for step in ("0", "nan", "inf", "1e-9", "1e300"):
        r = client.get(
            "/api/v1/query_range?query=temperature"
            "&start=2024-01-01T00:00:00Z&end=2024-01-01T01:00:00Z"
            f"&step={step}"
        )
        assert r.status_code == 400, step
        assert "step must be" in r.get_json()["error"], step


def test_label_browsing_endpoints(client):
    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200

    r = client.get("/api/v1/labels")
    assert r.status_code == 200
    body = r.get_json()
    assert body["status"] == "success"
    assert "__name__" in body["data"]

    r = client.get("/api/v1/label/__name__/values")
    assert r.status_code == 200
    assert "temperature" in r.get_json()["data"]

    r = client.get("/api/v1/label/nosuch/values")
    assert r.status_code == 200
    assert r.get_json()["data"] == []

    # Round 7 review fixes: @-anchored selectors must work over HTTP
    # with the server's timezone-AWARE clock (naive/aware mixing used
    # to 500), and the didactic @-in-range-queries rejection must be a
    # 400, not a crash.
    r = client.get(
        "/api/v1/query?extended=true&query=temperature%20%40%201704067230"
    )
    assert r.status_code == 200
    vals = [row["value"] for row in r.get_json()["result"]]
    assert 20.5 in vals  # last sample ≤ 2024-01-01T00:00:30
    r = client.get(
        "/api/v1/query_range?query=max_over_time(temperature%5B1m%5D"
        "%20%40%201704067230)&start=2024-01-01T00:00:00Z"
        "&end=2024-01-01T00:02:00Z&step=60"
    )
    assert r.status_code == 200
    anchored = [row["value"] for row in r.get_json()["result"]]
    # Fixed anchor ⇒ the same anchored-window value at all 3 steps.
    assert anchored == [20.5] * 3

    # histogram_fraction over a PLAIN selector dispatches to the
    # extended evaluator (the hand-enumerated dispatch missed the new
    # field — round-7 review, verified by execution).
    r = client.get(
        "/api/v1/query?extended=true&query="
        "histogram_fraction(0,%2030,%20temperature)"
    )
    assert r.status_code == 200

    # Round 7: cardinality safety — limit= caps the response (the
    # LIMIT executes inside the Spark plan, sorted for determinism);
    # limit=0 means unlimited; negative is a client error.
    full = client.get("/api/v1/label/__name__/values").get_json()["data"]
    r = client.get("/api/v1/label/__name__/values?limit=1")
    assert r.get_json()["data"] == sorted(full)[:1]
    r = client.get("/api/v1/labels?limit=1")
    assert len(r.get_json()["data"]) == 1
    assert client.get(
        "/api/v1/labels?limit=0"
    ).get_json()["data"] == client.get("/api/v1/labels").get_json()["data"]
    assert client.get("/api/v1/labels?limit=-1").status_code == 400


def test_prometheus_headers_strictly_validated(client):
    # Reference verify_headers (prometheus_write.rs:21-73,
    # prometheus_read.rs:24-77): missing or unsupported wire headers are
    # didactic 400s.
    r = client.post("/api/v1/prometheus_remote_read", data=b"")
    assert r.status_code == 400
    assert "Missing content-encoding" in r.get_json()["error"]

    bad = dict(PROM_READ_HEADERS, **{"content-encoding": "gzip"})
    r = client.post("/api/v1/prometheus_remote_read", data=b"", headers=bad)
    assert r.status_code == 400
    assert "must be snappy" in r.get_json()["error"]

    bad = dict(PROM_READ_HEADERS)
    del bad["x-prometheus-remote-read-version"]
    r = client.post("/api/v1/prometheus_remote_read", data=b"", headers=bad)
    assert r.status_code == 400
    assert "x-prometheus-remote-read-version" in r.get_json()["error"]

    bad = dict(PROM_WRITE_HEADERS,
               **{"x-prometheus-remote-write-version": "9.9"})
    r = client.post("/api/v1/prometheus_remote_write", data=b"", headers=bad)
    assert r.status_code == 400
    assert "must be 0.1.0" in r.get_json()["error"]


def test_publish_arrow_roundtrip(client):
    # Arrow IPC ingest through the gateway Content-Type dispatch
    # (reference arrow_integration.rs:187-292 + server.rs:178-204), then
    # query the series back.
    import datetime as dt
    import io

    import pyarrow as pa
    from pyarrow import ipc

    table = pa.table(
        {
            "timestamp": pa.array(
                [dt.datetime(2024, 2, 1, 0, 0, s) for s in (0, 30)],
                type=pa.timestamp("us"),
            ),
            "value": pa.array([7.25, 7.5], type=pa.float64()),
            "sensor_name": pa.array(["arrow_gateway_metric"] * 2),
        }
    )
    sink = io.BytesIO()
    with ipc.new_file(sink, table.schema) as w:
        w.write_table(table)
    r = client.post(
        "/publish",
        data=sink.getvalue(),
        content_type="application/vnd.apache.arrow.file",
    )
    assert r.status_code == 200, r.get_data()

    doc = client.get("/series?metric=arrow_gateway_metric").get_json()
    (ds,) = doc["dcat:dataset"]
    r = client.get(f"/series/{ds['dct:identifier']}?format=jsonl")
    rows = [json.loads(x) for x in r.get_data(as_text=True).splitlines()]
    assert [x["value"] for x in rows] == [7.25, 7.5]
    assert all(x["type"] == "float" for x in rows)


def test_publish_arrow_invalid_payload(client):
    # arrow_integration.rs:341-371: not-an-Arrow payload is a 400, not a
    # 500.
    r = client.post(
        "/publish",
        data=b"definitely not arrow bytes",
        content_type="application/vnd.apache.arrow.file",
    )
    assert r.status_code == 400
    assert "Arrow" in r.get_json()["error"]


def test_malformed_csv_rejected_without_partial_writes(spark, tmp_path_factory):
    """Reference tests/ingestion.rs:195-216: malformed CSV must yield an
    error response AND create no sensors — a fresh lake proves the
    no-partial-write half, which the shared-fixture client can't."""
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake_malformed")))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        r = c.post(
            "/publish",
            data="this,is,not,proper\ncsv,data,missing,headers",
            content_type="text/csv",
        )
    assert r.status_code == 400
    assert "error" in r.get_json()
    assert lake.sensors().count() == 0


def test_bulk_csv_ingestion_1000_rows(spark, tmp_path_factory):
    """Reference tests/ingestion.rs:221-258: 1000-sample bulk publish
    lands every row on one sensor with its unit intact."""
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake_bulk")))
    app = create_app(spark, lake)
    app.testing = True
    lines = ["datetime,sensor_name,value,unit"]
    for i in range(1000):
        lines.append(
            f"2024-01-01T{(i // 3600) % 24:02d}:{(i // 60) % 60:02d}:"
            f"{i % 60:02d}Z,temperature_bulk,{20.0 + i * 0.01:.1f},°C"
        )
    with app.test_client() as c:
        r = c.post(
            "/publish", data="\n".join(lines) + "\n", content_type="text/csv"
        )
    assert r.status_code == 200
    from sensapp_spark.datamodel.types import SensorType

    (sensor,) = lake.sensors().collect()
    assert sensor.name == "temperature_bulk" and sensor.unit == "°C"
    assert lake.values(SensorType.FLOAT).count() == 1000


def test_invalid_arrow_payload_rejected(spark, tmp_path_factory):
    """Reference tests/arrow_integration.rs:341-364: garbage bytes under
    the Arrow content type yield 400 and ingest nothing."""
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake_badarrow")))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        r = c.post(
            "/publish",
            data=b"not arrow data",
            content_type="application/vnd.apache.arrow.file",
        )
    assert r.status_code == 400
    assert lake.sensors().count() == 0


def test_arrow_string_roundtrip_through_gateway(spark, tmp_path_factory):
    """Reference arrow_integration.rs:292-340 + roundtrip mod: a
    string-typed Arrow file publishes through the gateway (Utf8 →
    String dispatch) and exports back with the values intact."""
    import datetime as dt
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    t0 = dt.datetime(2024, 5, 1)
    table = pa.table({
        "timestamp": pa.array(
            [t0, t0 + dt.timedelta(seconds=1)], type=pa.timestamp("us")
        ),
        "sensor_name": pa.array(["test_string_sensor"] * 2),
        "value": pa.array(["hello", "world"]),
    })
    sink = io.BytesIO()
    with ipc.new_file(sink, table.schema) as w:
        w.write_table(table)

    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake_strarrow")))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        r = c.post(
            "/publish",
            data=sink.getvalue(),
            content_type="application/vnd.apache.arrow.file",
        )
        assert r.status_code == 200, r.get_data()
        doc = c.get("/series?metric=test_string_sensor").get_json()
        (ds,) = doc["dcat:dataset"]
        r = c.get(f"/series/{ds['dct:identifier']}?format=jsonl")
    rows = [json.loads(x) for x in r.get_data(as_text=True).splitlines()]
    assert [x["value"] for x in rows] == ["hello", "world"]
    assert all(x["type"] == "string" for x in rows)


def test_export_empty_result_shapes(spark, tmp_path_factory):
    """Reference query_export.rs:287-316: an empty export is a lone CSV
    header and a zero-byte JSONL body — driven through the gateway with
    a time range that excludes every sample. Arrow is a schema-only IPC
    file and Parquet a 0-row file, both with the multi-layout columns,
    and SenML an empty array."""
    import io

    import pyarrow.ipc as ipc
    import pyarrow.parquet as pq

    from sensapp_spark.exporters.arrow_exporter import MULTI_ARROW_SCHEMA

    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake_empty")))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        assert c.post(
            "/publish", data=CSV, content_type="text/csv"
        ).status_code == 200
        doc = c.get("/series?metric=temperature").get_json()
        (ds,) = doc["dcat:dataset"]
        uuid = ds["dct:identifier"]
        window = "start=1999-01-01T00:00:00Z&end=1999-01-02T00:00:00Z"
        body = {
            fmt: c.get(f"/series/{uuid}?format={fmt}&{window}").get_data()
            for fmt in ("csv", "jsonl", "arrow", "parquet", "senml")
        }
    csv_body = body["csv"].decode()
    assert csv_body.strip().splitlines() == [
        csv_body.strip()
    ] and csv_body.startswith("timestamp,")  # header only
    assert body["jsonl"].strip() == b""  # no lines
    arrow = ipc.open_file(io.BytesIO(body["arrow"]))
    assert arrow.num_record_batches == 0
    assert arrow.schema.equals(MULTI_ARROW_SCHEMA)
    assert len(arrow.schema) == 6
    parquet = pq.read_table(io.BytesIO(body["parquet"]))
    assert parquet.num_rows == 0
    assert parquet.schema.equals(MULTI_ARROW_SCHEMA)
    assert body["senml"] == b"[]\n"


def test_concurrent_catalog_queries(client):
    """Reference query_export.rs:136-163: concurrent requests to the
    catalog endpoints all succeed (Spark handles concurrent jobs from
    multiple threads; each thread uses its own test client)."""
    import threading

    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200
    app = client.application
    results = []

    def hit(path):
        with app.test_client() as c:
            results.append((path, c.get(path).status_code))

    threads = [
        threading.Thread(target=hit, args=(p,))
        for p in ("/series", "/metrics", "/series")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert [code for _, code in results] == [200, 200, 200]


def test_parquet_export_round_trips(client):
    """Beyond-reference: format=parquet hands back a real Parquet file
    of the long layout — the natural columnar download for a
    Spark-native engine (values stringified like the Arrow export)."""
    import io

    import pyarrow.parquet as pq

    assert client.post(
        "/publish", data=CSV, content_type="text/csv"
    ).status_code == 200
    r = client.get("/api/v1/query?query=temperature[100000h]&format=parquet")
    assert r.status_code == 200
    assert r.mimetype == "application/vnd.apache.parquet"
    table = pq.read_table(io.BytesIO(r.get_data()))
    assert table.column_names == [
        "timestamp", "sensor_id", "sensor_name", "value", "type", "labels",
    ]
    assert sorted(set(table.column("value").to_pylist())) == ["20.5", "21.0"]
    assert set(table.column("sensor_name").to_pylist()) == {"temperature"}


def test_delete_series_erases_across_the_star(spark, tmp_path):
    """DELETE /series/<id>: GDPR erasure through the gateway — values
    gone, dimension row gone, other sensors untouched; unknown id is a
    404. (Module client fixture is shared, so this test gets its own
    lake.)"""
    from sensapp_spark.server.app import create_app as _mk

    lake = SensorLake(spark, str(tmp_path / "erase_lake"))
    app = _mk(spark, lake)
    app.testing = True
    with app.test_client() as c:
        assert c.post(
            "/publish", data=CSV, content_type="text/csv"
        ).status_code == 200
        doc = c.get("/series").get_json()
        sid = next(
            d["dct:identifier"]
            for d in doc["dcat:dataset"]
            if d["dct:title"] == "humidity"
        )
        assert c.delete("/series/nope-not-a-sensor").status_code == 404
        r = c.delete(f"/series/{sid}")
        assert r.status_code == 200
        body = r.get_json()
        assert body["status"] == "erased"
        assert body["dimension_removed"] is True
        names = {
            d["dct:title"]
            for d in c.get("/series").get_json()["dcat:dataset"]
        }
        assert names == {"temperature"}
        assert c.get(f"/series/{sid}").status_code == 404


def test_admin_stats_partitions_zero_data_reads(spark, tmp_path):
    """?partitions=1 (round 10): per-month files/rows/time bounds from
    the sidecar + file log. The zero-data-read property is pinned the
    blunt way — every parquet data file is TRUNCATED to zero bytes and
    the endpoint still answers identically (any data read would
    explode); rows are exact footer counts recorded at append time."""
    import glob

    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.storage.lake import SensorLake

    lake = SensorLake(spark, str(tmp_path / "lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,part_a\n"
                 "2024-01-05T10:00:00Z,1.0\n"
                 "2024-01-20T11:00:00Z,2.0\n"
                 "2024-02-02T09:30:00Z,3.0\n",
            content_type="text/csv",
        )
        doc = c.get("/api/v1/admin/stats?partitions=1").get_json()
        parts = doc["float"]["partitions"]
        assert parts is not None, "sidecar coverage incomplete"
        assert set(parts) == {"2024-01", "2024-02"}
        assert parts["2024-01"]["rows"] == 2
        assert parts["2024-02"]["rows"] == 1
        assert parts["2024-01"]["files"] >= 1
        assert parts["2024-01"]["time_min"].startswith("2024-01-05T10:00")
        assert parts["2024-01"]["time_max"].startswith("2024-01-20T11:00")
        # Types never published report null (hint-not-authority).
        assert doc["integer"]["partitions"] is None
        # Without the flag the key is absent (response stays compact).
        assert "partitions" not in c.get(
            "/api/v1/admin/stats"
        ).get_json()["float"]

        # THE zero-data-read pin.
        for f in glob.glob(
            str(tmp_path / "lake" / "**" / "*.parquet"), recursive=True
        ):
            open(f, "w").close()
        again = c.get("/api/v1/admin/stats?partitions=1").get_json()
        assert again["float"]["partitions"] == parts

    # Library-level honesty: a file missing from the sidecar → None.
    import os

    from sensapp_spark.storage.lake import resolve_table

    data = resolve_table(lake._values_path(SensorType.FLOAT))
    os.unlink(os.path.join(data, "_zonemap.json"))
    assert lake.partition_stats(SensorType.FLOAT) is None


def test_admin_retention_expires_old_months(spark, tmp_path):
    """POST /api/v1/admin/retention?before=… (round 10): partition-
    grain expiry through the gateway — the ops call pairs with
    ?partitions=1 (check what a cutoff would drop, then drop it).
    Whole months older than the cutoff's month vanish; the boundary
    month survives; missing/invalid cutoff is a 400."""
    from sensapp_spark.storage.lake import SensorLake

    lake = SensorLake(spark, str(tmp_path / "retention_lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,ret_a\n"
                 "2023-11-05T10:00:00Z,1.0\n"
                 "2024-01-02T11:00:00Z,2.0\n"
                 "2024-02-02T09:30:00Z,3.0\n",
            content_type="text/csv",
        )
        assert c.post("/api/v1/admin/retention").status_code == 400
        assert c.post(
            "/api/v1/admin/retention?before=not-a-time"
        ).status_code == 400
        r = c.post("/api/v1/admin/retention?before=2024-01-15T00:00:00Z")
        assert r.status_code == 200
        body = r.get_json()
        assert body["status"] == "expired"
        assert body["cutoff_month"] == "2024-01"
        assert body["tables"]["float"]["months"] == ["2023-11"]
        parts = c.get(
            "/api/v1/admin/stats?partitions=1"
        ).get_json()["float"]["partitions"]
        assert set(parts) == {"2024-01", "2024-02"}
        # Epoch-seconds cutoff accepted too; nothing older → no-op.
        r2 = c.post("/api/v1/admin/retention?before=1700000000")
        assert r2.status_code == 200
        assert r2.get_json()["tables"] == {}
        # A NAIVE ISO cutoff is UTC (the lake's storage contract), not
        # host-local — on any TZ the cutoff month must be stable
        # (round 11: _parse_ts mirrored on _parse_rfc3339).
        r3 = c.post("/api/v1/admin/retention?before=2024-03-01T00:00:00")
        assert r3.status_code == 200
        assert r3.get_json()["cutoff_month"] == "2024-03"
        # Out-of-range epoch raises OverflowError inside, surfaces 400.
        assert c.post(
            "/api/v1/admin/retention?before=1e20"
        ).status_code == 400


def test_rollup_routes_serve_maintained_aggregates(spark, tmp_path):
    """GET /api/v1/rollup + POST /api/v1/admin/rollup/refresh (round
    10): the refresh tick maintains the continuous aggregate, the read
    serves it as JSONL, realtime=1 covers rows the tick has not seen,
    and bad params are 400s."""
    import json as _json

    from sensapp_spark.storage.lake import SensorLake

    lake = SensorLake(spark, str(tmp_path / "rollup_lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,roll_a\n"
                 "2024-01-05T10:05:00Z,1.0\n"
                 "2024-01-05T10:35:00Z,3.0\n"
                 "2024-02-02T09:30:00Z,5.0\n",
            content_type="text/csv",
        )
        r = c.post("/api/v1/admin/rollup/refresh")
        assert r.status_code == 200
        body = r.get_json()
        assert body["tables"]["float"]["mode"] == "rebuild"

        r = c.get("/api/v1/rollup?type=float")
        assert r.status_code == 200
        rows = [
            _json.loads(ln)
            for ln in r.get_data(as_text=True).splitlines()
        ]
        assert len(rows) == 2
        jan = next(
            x for x in rows if x["bucket"].startswith("2024-01-05T10")
        )
        assert (jan["cnt"], jan["vsum"], jan["vmin"], jan["vmax"]) == (
            2, 4.0, 1.0, 3.0,
        )

        # Unrefreshed tail: committed read misses it, realtime sees it.
        c.post(
            "/publish",
            data="datetime,roll_a\n2024-02-02T09:45:00Z,7.0\n",
            content_type="text/csv",
        )
        stale = c.get(
            "/api/v1/rollup?type=float&start=2024-02-01T00:00:00Z"
        ).get_data(as_text=True).splitlines()
        assert _json.loads(stale[0])["cnt"] == 1
        live = c.get(
            "/api/v1/rollup?type=float&start=2024-02-01T00:00:00Z"
            "&realtime=1"
        ).get_data(as_text=True).splitlines()
        assert _json.loads(live[0])["cnt"] == 2

        # Read-time fold to daily: both hourly buckets of 2024-01-05
        # merge into one row; non-multiple folds are 400s.
        daily = c.get(
            "/api/v1/rollup?type=float&fold=86400&realtime=1"
        ).get_data(as_text=True).splitlines()
        jan_day = next(
            _json.loads(ln) for ln in daily
            if _json.loads(ln)["bucket"].startswith("2024-01-05")
        )
        assert (jan_day["cnt"], jan_day["vsum"]) == (2, 4.0)
        assert c.get(
            "/api/v1/rollup?type=float&fold=5400"
        ).status_code == 400

        assert c.get("/api/v1/rollup?type=string").status_code == 400
        assert c.get("/api/v1/rollup?type=float&grain=x").status_code == 400
        assert c.get(
            "/api/v1/rollup?type=float&start=nope"
        ).status_code == 400


def test_series_at_seq_time_travel(spark, tmp_path):
    """?at_seq= on the single-series fetch: read the snapshot a
    rewrite superseded (within retain_generations); a pruned version
    is a 410, not a 404 — the series exists, the snapshot is gone."""
    from sensapp_spark.datamodel.types import SensorType
    from sensapp_spark.storage.lake import SensorLake, read_committed

    lake = SensorLake(spark, str(tmp_path / "tt_lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,tt_a\n"
                 "2024-01-05T10:00:00Z,1.0\n"
                 "2024-01-05T11:00:00Z,9.0\n",
            content_type="text/csv",
        )
        doc = c.get("/series").get_json()
        sid = doc["dcat:dataset"][0]["dct:identifier"]
        pre = read_committed(lake._values_path(SensorType.FLOAT))[0]
        lake.delete_where(
            SensorType.FLOAT, "value > 4", quiesce_wait_s=0.2
        )
        live = c.get(f"/series/{sid}?format=jsonl").get_data(as_text=True)
        assert live.count("\n") == 1  # the 9.0 row is gone
        old = c.get(
            f"/series/{sid}?format=jsonl&at_seq={pre}"
        ).get_data(as_text=True)
        assert old.count("\n") == 2  # snapshot still has it
        assert c.get(
            f"/series/{sid}?at_seq=99"
        ).status_code == 410
        # Malformed at_seq is a 400, NOT a silent read of the current
        # version — Flask's type=int would swallow it (round 11).
        r = c.get(f"/series/{sid}?at_seq=abc")
        assert r.status_code == 400
        assert "at_seq" in r.get_json()["error"]


@pytest.mark.parametrize("threshold", [10_000, 1])
def test_senml_served_as_senml_json(spark, tmp_path_factory, threshold):
    """Both SenML routes answer RFC 8428's ``application/senml+json`` —
    the media type the DCAT catalog advertises for the same download
    URL — as one body (default threshold) and as a stream (threshold
    1)."""
    lake = SensorLake(spark, str(tmp_path_factory.mktemp("lake_senml")))
    app = create_app(spark, lake, stream_threshold=threshold)
    app.testing = True
    with app.test_client() as c:
        assert c.post(
            "/publish", data=CSV, content_type="text/csv"
        ).status_code == 200
        (ds,) = c.get("/series?metric=temperature").get_json()[
            "dcat:dataset"
        ]
    (dist,) = [
        d for d in ds["dcat:distribution"]
        if d["dcat:downloadURL"].endswith("format=senml")
    ]
    for path in (
        dist["dcat:downloadURL"],
        "/api/v1/query?query=temperature[1000000h]&format=senml",
    ):
        # The view's own Response: only it tells a stream from a body.
        with app.test_request_context(path):
            r = app.full_dispatch_request()
        assert r.status_code == 200, path
        assert r.is_streamed == (threshold == 1), path
        assert r.mimetype == dist["dcat:mediaType"] == "application/senml+json"
        assert len(json.loads(r.get_data(as_text=True))) == 2


def test_extended_global_aggregate_over_nothing_is_empty(client):
    """An aggregate over an empty vector answers an empty vector
    (Prometheus), not one ``{value: null}`` row."""
    r = client.get("/api/v1/query?query=sum(nosuch)&extended=1")
    assert r.status_code == 200
    assert r.get_json() == {"result": []}


def test_query_range_evaluates_constants_per_step(client):
    """query_range answers a top-level constant per step: vector(2) is
    one empty-label series, time() each step's own timestamp, hour()
    the hour of it."""
    span = "&start=2024-01-01T00:00:00Z&end=2024-01-01T02:00:00Z&step=3600"
    for expr, want in (
        ("vector(2)", [2.0, 2.0, 2.0]),
        ("time()", [1704067200.0, 1704070800.0, 1704074400.0]),
        ("hour()", [0.0, 1.0, 2.0]),
    ):
        r = client.get(f"/api/v1/query_range?query={expr}{span}")
        assert r.status_code == 200, (expr, r.get_data(as_text=True))
        rows = sorted(r.get_json()["result"], key=lambda d: d["t"])
        assert [d["value"] for d in rows] == want, expr
        assert [d["t"] for d in rows] == [
            "2024-01-01T00:00:00", "2024-01-01T01:00:00",
            "2024-01-01T02:00:00",
        ]
