"""Round-13 HTTP surface: per-step time() in range binaries, the
instant/binary driver-materialization caps, the served-instant
PromQLError → 400 parity with the raw branch, and rollup serving of
instant binaries and fixed-``@`` range queries (both extended PromQL
routes run one pipeline)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.server.app import create_app
from sensapp_spark.storage.lake import SensorLake

T0 = dt.datetime(2024, 1, 1)


def _mixed_lake(spark, tmp_path):
    lake = SensorLake(spark, str(tmp_path / "r13_lake"))
    f_rows = [("fm/a", T0 + dt.timedelta(minutes=m), float(v))
              for m, v in [(10, 1.0), (40, 3.0), (70, 6.0), (100, 10.0)]]
    i_rows = [("im/a", T0 + dt.timedelta(minutes=m), v)
              for m, v in [(5, 100), (35, 140), (65, 200), (95, 280)]]
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame(
            f_rows, "sensor_id string, time timestamp, value double"
        ),
    )
    lake.append_values(
        SensorType.INTEGER,
        spark.createDataFrame(
            i_rows, "sensor_id string, time timestamp, value long"
        ),
    )
    sensors = spark.createDataFrame(
        [("fm/a", "fm", "Float"), ("im/a", "im", "Integer")],
        "sensor_id string, name string, type string",
    ).select(
        "sensor_id", "name", "type",
        F.lit(None).cast("string").alias("unit"),
        F.lit(None).cast("string").alias("unit_description"),
        F.create_map(F.lit("site"), F.lit("x")).alias("labels"),
    )
    lake.upsert_sensors(sensors)
    return lake


@pytest.fixture()
def r13_app(spark, tmp_path):
    lake = _mixed_lake(spark, tmp_path)
    app = create_app(spark, lake)
    app.testing = True
    return app, lake


def test_time_operand_in_range_binary_is_per_step(r13_app):
    """'time() - last_over_time(m[1h])' must evaluate time() at EVERY
    step (Prometheus), not repeat the parse-time now — the round-12
    advisor's frozen-clock finding."""
    import urllib.parse

    app, _lake = r13_app
    q = (
        "/api/v1/query_range?query="
        + urllib.parse.quote("time() - last_over_time(fm[1h])")
        + "&start=2024-01-01T01:00:00Z&end=2024-01-01T02:00:00Z"
        "&step=3600"
    )
    with app.test_client() as c:
        r = c.get(q)
        assert r.status_code == 200, r.get_data(as_text=True)
        vals = {row["t"]: row["value"] for row in r.get_json()["result"]}
    e1 = T0.replace(tzinfo=dt.timezone.utc).timestamp() + 3600
    e2 = e1 + 3600
    # last fm in [00:00,01:00] = 3.0; in [01:00,02:00] = 10.0.
    assert vals == {
        "2024-01-01T01:00:00": pytest.approx(e1 - 3.0),
        "2024-01-01T02:00:00": pytest.approx(e2 - 10.0),
    }


def test_vector_const_operand_stays_constant_per_step(r13_app):
    """vector(5) keeps the constant path: the same literal at every
    step (the 'x or vector(0)' Grafana fallback shape)."""
    import urllib.parse

    app, _lake = r13_app
    q = (
        "/api/v1/query_range?query="
        + urllib.parse.quote("last_over_time(fm[1h]) or vector(0)")
        + "&start=2024-01-01T01:00:00Z&end=2024-01-01T02:00:00Z"
        "&step=3600"
    )
    with app.test_client() as c:
        r = c.get(q)
        assert r.status_code == 200, r.get_data(as_text=True)
        vals = sorted(row["value"] for row in r.get_json()["result"])
        # fm exists at both steps; vector(0)'s EMPTY label set has no
        # match in the left vector, so its constant rows appear too
        # (Prometheus `or`), constant — not time-valued — per step.
        assert vals == [0.0, 0.0, 3.0, 10.0]


def test_instant_row_cap_returns_400(r13_app, monkeypatch):
    """A pathological-cardinality instant query 400s via the in-plan
    limit instead of OOMing the driver (the query_range discipline,
    extended to its instant sibling — round-12 review)."""
    import urllib.parse

    import sensapp_spark.server.app as app_module

    app, _lake = r13_app
    monkeypatch.setattr(app_module, "INSTANT_ROW_CAP", 1)
    anchor = int(
        (T0 + dt.timedelta(hours=2))
        .replace(tzinfo=dt.timezone.utc).timestamp()
    )
    expr = urllib.parse.quote(
        f'last_over_time({{__name__=~"fm|im"}}[1h] @ {anchor})'
    )
    with app.test_client() as c:
        r = c.get(f"/api/v1/query?extended=true&query={expr}")
        assert r.status_code == 400
        assert "exceeds 1 series" in r.get_json()["error"]
        # One series stays under the cap.
        ok = c.get(
            "/api/v1/query?extended=true&query="
            + urllib.parse.quote(f"last_over_time(fm[1h] @ {anchor})")
        )
        assert ok.status_code == 200, ok.get_data(as_text=True)


def test_binary_row_cap_returns_400(r13_app, monkeypatch):
    """The extended BINARY route shares the instant cap."""
    import urllib.parse

    import sensapp_spark.server.app as app_module

    app, _lake = r13_app
    monkeypatch.setattr(app_module, "INSTANT_ROW_CAP", 1)
    anchor = int(
        (T0 + dt.timedelta(hours=2))
        .replace(tzinfo=dt.timezone.utc).timestamp()
    )
    expr = urllib.parse.quote(
        f'last_over_time({{__name__=~"fm|im"}}[1h] @ {anchor}) * 2'
    )
    with app.test_client() as c:
        r = c.get(f"/api/v1/query?extended=true&query={expr}")
        assert r.status_code == 400
        assert "exceeds 1 series" in r.get_json()["error"]
        ok = c.get(
            "/api/v1/query?extended=true&query="
            + urllib.parse.quote("fm * 2")
        )
        assert ok.status_code == 200, ok.get_data(as_text=True)


def test_served_instant_promql_error_is_400(r13_app, monkeypatch):
    """A PromQLError raised on the rollup-SERVED instant path must
    return the same 400 the raw path returns — not a 500 (round-12
    advisor: the served branch evaluated outside the raw branch's
    try/except)."""
    import sensapp_spark.query.rollup_serve as rs
    from sensapp_spark.query.promql import PromQLError

    app, _lake = r13_app

    def boom(*a, **k):
        raise PromQLError("aggregation", "synthetic served-tail error")

    monkeypatch.setattr(rs, "evaluate_range_rollup", boom)
    anchor = int(
        (T0 + dt.timedelta(hours=2))
        .replace(tzinfo=dt.timezone.utc).timestamp()
    )
    with app.test_client() as c:
        c.post("/api/v1/admin/rollup/refresh")
        r = c.get(
            "/api/v1/query?extended=true&query="
            f"rate(fm[2h] @ {anchor})"
        )
        assert r.status_code == 400
        assert "synthetic served-tail error" in r.get_json()["error"]


def _anchor(hours: int) -> int:
    return int(
        (T0 + dt.timedelta(hours=hours))
        .replace(tzinfo=dt.timezone.utc).timestamp()
    )


def _served_and_raw(c, path):
    """(served response, ?rollup=0 response) for one GET path."""
    assert c.post("/api/v1/admin/rollup/refresh").status_code == 200
    served = c.get(path)
    raw = c.get(path + "&rollup=0")
    assert served.status_code == 200, served.get_data(as_text=True)
    assert raw.status_code == 200, raw.get_data(as_text=True)
    assert raw.headers["X-Served-From"] == "raw"
    return served, raw


def _by_row(rows):
    return sorted(rows, key=lambda r: sorted(map(str, r.items())))


def test_instant_binary_is_rollup_served(r13_app):
    """An instant binary runs the query_range pipeline on a one-step
    grid, so each operand folds from the maintained rollup — with the
    body ?rollup=0 answers."""
    import urllib.parse

    app, _lake = r13_app
    at = _anchor(2)
    expr = urllib.parse.quote(f"rate(fm[2h] @ {at}) / rate(im[2h] @ {at})")
    with app.test_client() as c:
        served, raw = _served_and_raw(
            c, f"/api/v1/query?extended=1&query={expr}"
        )
    assert served.headers["X-Served-From"] == "rollup-3600s"
    rows = served.get_json()["result"]
    assert len(rows) == 1
    # In [00:00, 02:00] fm rises 1 → 10 over 00:10–01:40 and im
    # 100 → 280 over 00:05–01:35: both spans are 5400 s.
    assert rows[0]["value"] == pytest.approx((9.0 / 5400) / (180.0 / 5400))
    assert _by_row(rows) == _by_row(raw.get_json()["result"])


def test_fixed_at_range_query_is_rollup_served(r13_app):
    """A fixed ``@`` range query evaluates once at its anchor and
    repeats — the rollup serves that one-step grid too."""
    import urllib.parse

    app, _lake = r13_app
    expr = urllib.parse.quote(f"rate(fm[2h] @ {_anchor(2)})")
    with app.test_client() as c:
        served, raw = _served_and_raw(
            c,
            f"/api/v1/query_range?query={expr}"
            "&start=2024-01-01T00:00:00Z&end=2024-01-01T03:00:00Z"
            "&step=1800",
        )
    assert served.headers["X-Served-From"] == "rollup-3600s"
    rows = served.get_json()["result"]
    assert len(rows) == 7
    assert [r["value"] for r in rows] == [pytest.approx(9.0 / 5400)] * 7
    assert _by_row(rows) == _by_row(raw.get_json()["result"])


def test_grouped_fixed_at_instant_stays_served(spark, tmp_path):
    """The dashboard shape ``sum by (region) (avg_over_time(m[4d] @
    T))`` stays rollup-served on the one pipeline and equals raw."""
    import urllib.parse

    lake = SensorLake(spark, str(tmp_path / "region_lake"))
    rows = [
        (f"m/{i}", T0 + dt.timedelta(hours=h), float(i * 100 + h))
        for i in range(3)
        for h in range(5 * 24)
    ]
    lake.append_values(
        SensorType.FLOAT,
        spark.createDataFrame(
            rows, "sensor_id string, time timestamp, value double"
        ),
    )
    lake.upsert_sensors(
        spark.createDataFrame(
            [(f"m/{i}", "m", "Float", ("eu", "eu", "us")[i])
             for i in range(3)],
            "sensor_id string, name string, type string, region string",
        ).select(
            "sensor_id", "name", "type",
            F.lit(None).cast("string").alias("unit"),
            F.lit(None).cast("string").alias("unit_description"),
            F.create_map(F.lit("region"), F.col("region")).alias("labels"),
        )
    )
    app = create_app(spark, lake)
    app.testing = True
    expr = urllib.parse.quote(
        f"sum by (region) (avg_over_time(m[4d] @ {_anchor(4 * 24 + 6)}))"
    )
    with app.test_client() as c:
        served, raw = _served_and_raw(
            c, f"/api/v1/query?extended=1&query={expr}"
        )
    assert served.headers["X-Served-From"] == "rollup-3600s"
    got = {r["region"]: r["value"] for r in served.get_json()["result"]}
    want = {r["region"]: r["value"] for r in raw.get_json()["result"]}
    assert set(got) == {"eu", "us"}
    assert got == {k: pytest.approx(v, rel=1e-12) for k, v in want.items()}
