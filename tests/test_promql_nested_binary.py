"""Round 11 PromQL tail: ONE nested binary operand with Prometheus
precedence/associativity, global-aggregate operands (empty-label
vectors), and the didactic bounds. Semantics pinned on hand-built
frames (the DuckDB oracle covers the registry shapes:
promql_ext_binary_ratio's nested_gt/global_ratio arms)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sensapp_spark.query.promql_ext import (
    BinaryQuery,
    PromQLError,
    evaluate_binary,
    parse_extended_expr,
    scan_window,
)

T0 = dt.datetime(2024, 1, 1)
NOW = T0 + dt.timedelta(minutes=30)


@pytest.fixture(scope="module")
def frames(spark):
    rows = [
        ("a/u1", 0, 4.0), ("a/u2", 60, 9.0),
        ("b/u1", 0, 2.0), ("b/u2", 60, 3.0),
        ("c/u1", 0, 1.0), ("c/u2", 60, 100.0),
    ]
    vals = spark.createDataFrame(
        [(s, T0 + dt.timedelta(seconds=o), float(v), i)
         for i, (s, o, v) in enumerate(rows)],
        "sensor_id string, time timestamp, value double, event_id long",
    )
    sensors = (
        vals.select("sensor_id").distinct()
        .select(
            "sensor_id",
            F.split("sensor_id", "/").getItem(0).alias("name"),
            F.lit("Float").alias("type"),
            F.lit(None).cast("string").alias("unit"),
            F.lit(None).cast("string").alias("unit_description"),
            F.create_map(
                F.lit("user"), F.split("sensor_id", "/").getItem(1)
            ).alias("labels"),
        )
    )
    return sensors, vals


def _run(frames, expr):
    sensors, vals = frames
    out = evaluate_binary(
        sensors, vals, parse_extended_expr(expr, now=NOW)
    )
    return sorted(
        (r.asDict().get("labels"), round(r["value"], 6))
        for r in out.collect()
    )


def test_precedence_and_associativity():
    # * binds tighter than + → split at '+', right side nested.
    bq = parse_extended_expr("a + b * c", now=NOW)
    assert bq.op == "+" and isinstance(bq.right, BinaryQuery)
    assert bq.right.op == "*"
    # Comparisons bind looser than arithmetic.
    bq = parse_extended_expr("a / b > 0.5", now=NOW)
    assert bq.op == ">" and isinstance(bq.left, BinaryQuery)
    # Set ops are loosest.
    bq = parse_extended_expr("a / b and c", now=NOW)
    assert bq.op == "and" and bq.left.op == "/"
    # Left-assoc chain splits at the RIGHTMOST same-precedence op.
    bq = parse_extended_expr("a - b - c", now=NOW)
    assert bq.op == "-" and bq.left.op == "-"
    assert not isinstance(bq.right, BinaryQuery)
    # ^ is right-assoc: a ^ b ^ c = a ^ (b ^ c).
    bq = parse_extended_expr("a ^ b ^ c", now=NOW)
    assert bq.op == "^" and isinstance(bq.right, BinaryQuery)
    # Redundant full-expression parens unwrap at any depth.
    bq = parse_extended_expr("((a / b))", now=NOW)
    assert isinstance(bq, BinaryQuery) and bq.op == "/"


def test_nesting_bound_is_configured_depth():
    # Round 12: two nested levels below the top split are admitted —
    # the percentage shape — and the bound raises one level further.
    bq = parse_extended_expr("a / (b + c) * 100", now=NOW)
    assert bq.op == "*" and bq.left.op == "/"
    assert isinstance(bq.left.right, BinaryQuery)
    bq = parse_extended_expr("(a + b) / (c + d) > 1", now=NOW)
    assert bq.op == ">" and bq.left.op == "/"
    with pytest.raises(PromQLError, match="nest at most"):
        parse_extended_expr("a / b / c / d / e", now=NOW)
    with pytest.raises(PromQLError, match="nest at most"):
        parse_extended_expr("((a + b) / (c - d)) / (a / b) > 1", now=NOW)


def test_nested_arithmetic_values(frames):
    # a/b per user: u1=2, u2=3; then /c: u1=2/1, u2=3/100.
    assert _run(frames, "a / b / c") == [
        ('user="u1"', 2.0), ('user="u2"', 0.03),
    ]
    assert _run(frames, "a / (b * c)") == [
        ('user="u1"', 2.0), ('user="u2"', 0.03),
    ]
    # Nested on BOTH sides of the outer op.
    assert _run(frames, "(a / b) + (a / b)") == [
        ('user="u1"', 4.0), ('user="u2"', 6.0),
    ]
    # Two-level nesting (round 12): the dashboard percentage shape.
    # b+c: u1=3, u2=103; a/(b+c)*100: u1=400/3, u2=900/103.
    assert _run(frames, "a / (b + c) * 100") == [
        ('user="u1"', round(400.0 / 3.0, 6)),
        ('user="u2"', round(900.0 / 103.0, 6)),
    ]


def test_mixed_class_keyword_operator_is_left_associative(frames):
    # atan2 shares the */% precedence class; the split must be at the
    # RIGHTMOST operator of the class across keyword and single-char
    # scans alike: a / b atan2 c ≡ (a / b) atan2 c (ADVICE round 12 —
    # unsorted hits split at '/' and computed a / (b atan2 c)).
    import math

    bq = parse_extended_expr("a / b atan2 c", now=NOW)
    assert bq.op == "atan2" and isinstance(bq.left, BinaryQuery)
    assert bq.left.op == "/"
    expect = [
        ('user="u1"', round(math.atan2(4.0 / 2.0, 1.0), 6)),
        ('user="u2"', round(math.atan2(9.0 / 3.0, 100.0), 6)),
    ]
    assert _run(frames, "a / b atan2 c") == expect


def test_nested_comparison_filters_ratio(frames):
    # Ratio threshold: filter semantics keep the RATIO value.
    assert _run(frames, "(a / b) > 2.5") == [('user="u2"', 3.0)]
    assert _run(frames, "(a / b) > bool 2.5") == [
        ('user="u1"', 0.0), ('user="u2"', 1.0),
    ]


def test_nested_set_ops(frames):
    assert _run(frames, "(a / b) and c") == [
        ('user="u1"', 2.0), ('user="u2"', 3.0),
    ]
    assert _run(frames, "(a / b) unless c") == []


def test_global_aggregate_operands(frames):
    # sum(a)=13, sum(b)=5, sum(c)=101 — empty-label one-row vectors.
    assert _run(frames, "sum(a) / sum(b)") == [("", 2.6)]
    assert _run(frames, "sum(a) / (sum(b) + sum(c))") == [
        ("", round(13.0 / 106.0, 6)),
    ]
    # Empty key ≠ a labeled series: no match, empty result.
    assert _run(frames, "sum(a) / c") == []


def test_didactic_bounds(frames):
    sensors, vals = frames
    with pytest.raises(PromQLError, match="on/ignoring over"):
        evaluate_binary(
            sensors, vals,
            parse_extended_expr("(a / b) / on(user) c", now=NOW),
        )
    with pytest.raises(PromQLError, match="group_left over a nested"):
        parse_extended_expr(
            "(a + b) * on (user) group_left c", now=NOW
        )
    with pytest.raises(PromQLError, match="by/without-grouped"):
        evaluate_binary(
            sensors, vals,
            parse_extended_expr("sum by (user) (a) / c", now=NOW),
        )


def test_range_group_left_per_step(spark, frames):
    """group_left in RANGE queries (round 11 session 2): the
    many-to-one join applies PER STEP, the duplicate-one-side guard
    partitions per (key, t), and the aggregated-one-side shape rule
    matches the instant path."""
    import datetime as _dt

    from sensapp_spark.query.promql_ext import evaluate_range_binary

    sensors, vals = frames
    bq = parse_extended_expr("a / on(user) group_left c", now=NOW)
    out = evaluate_range_binary(
        sensors, vals, bq,
        start=T0 + _dt.timedelta(minutes=10),
        end=T0 + _dt.timedelta(minutes=20),
        step_seconds=600, now=NOW,
    )
    rows = {(r.labels, r.t.minute): round(r.value, 6)
            for r in out.collect()}
    # Both steps' 1h instant lookback sees all samples:
    # u1: 4/1, u2: 9/100 — at minutes 10 and 20.
    assert rows == {
        ('user="u1"', 10): 4.0, ('user="u1"', 20): 4.0,
        ('user="u2"', 10): 0.09, ('user="u2"', 20): 0.09,
    }
    # Aggregated one side must group by exactly the on-labels.
    with pytest.raises(PromQLError, match="EXACTLY"):
        evaluate_range_binary(
            sensors, vals,
            parse_extended_expr(
                "a / on(user) group_left sum(c)", now=NOW
            ),
            start=T0, end=T0 + _dt.timedelta(minutes=10),
            step_seconds=600, now=NOW,
        )


def test_pdiv_ieee_nan_numerator(spark):
    """IEEE-754 division at a zero divisor: NaN/0 = NaN (Spark's NaN
    ordering made `lc > 0` true for NaN, returning +Inf — ADVICE
    round 12), ±x/0 = ±Inf, 0/0 = NaN, and the non-zero arm is plain
    division."""
    import math

    from sensapp_spark.query.promql_ext import _pdiv

    df = spark.createDataFrame(
        [(float("nan"), 0.0), (1.0, 0.0), (-1.0, 0.0), (0.0, 0.0),
         (1.0, 2.0), (float("nan"), 2.0)],
        "l double, r double",
    )
    out = [
        r.v for r in df.select(
            _pdiv(F.col("l"), F.col("r")).alias("v")
        ).collect()
    ]
    assert math.isnan(out[0])
    assert out[1] == float("inf") and out[2] == float("-inf")
    assert math.isnan(out[3])
    assert out[4] == 0.5 and math.isnan(out[5])


def test_set_op_aggregated_operand_guard_matches_instant(frames):
    """'sum(a) and sum(b)' is a 400 as an instant query; the range
    path must reject it identically instead of silently evaluating
    (ADVICE round 12)."""
    from sensapp_spark.query.promql_ext import evaluate_range_binary

    sensors, vals = frames
    bq = parse_extended_expr("sum(a) and sum(b)", now=NOW)
    with pytest.raises(PromQLError, match="no series identity"):
        evaluate_binary(sensors, vals, bq)
    with pytest.raises(PromQLError, match="no series identity"):
        evaluate_range_binary(
            sensors, vals, bq,
            start=T0, end=T0 + dt.timedelta(minutes=10),
            step_seconds=600, now=NOW,
        )


def test_const_vector_operand_in_range_binary(frames):
    """'x or vector(0)' — the Grafana fallback — as a RANGE query
    (ADVICE round 12: the route's scan-bounds helper dereferenced the
    constant operand's absent selector → 500). The constant is an
    empty-label series at every step; 'or' keeps all left series plus
    the non-colliding constant."""
    from sensapp_spark.query.promql_ext import evaluate_range_binary

    sensors, vals = frames
    bq = parse_extended_expr("a or vector(0)", now=NOW)
    out = evaluate_range_binary(
        sensors, vals, bq,
        start=T0 + dt.timedelta(minutes=10),
        end=T0 + dt.timedelta(minutes=20),
        step_seconds=600, now=NOW,
    )
    rows = sorted(
        (str(sorted((r.labels or {}).items())), r.t.minute, r.value)
        for r in out.collect()
    )
    # Two steps × (a/u1=4, a/u2=9, const 0 with empty labels).
    assert rows == [
        ("[('user', 'u1')]", 10, 4.0), ("[('user', 'u1')]", 20, 4.0),
        ("[('user', 'u2')]", 10, 9.0), ("[('user', 'u2')]", 20, 9.0),
        ("[]", 10, 0.0), ("[]", 20, 0.0),
    ]


def test_gateway_range_binary_const_vector_fallback(spark, tmp_path):
    from sensapp_spark.server.app import create_app
    from sensapp_spark.storage.lake import SensorLake

    lake = SensorLake(spark, str(tmp_path / "lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,cv_a\n2024-01-01T00:15:00Z,6.0\n",
            content_type="text/csv",
        )
        r = c.get(
            "/api/v1/query_range?query=cv_a%20or%20vector(0)"
            "&start=2024-01-01T01:00:00Z&end=2024-01-01T02:00:00Z"
            "&step=3600"
        )
        assert r.status_code == 200, r.get_data(as_text=True)
        per_t = {}
        for row in r.get_json()["result"]:
            per_t.setdefault(row["t"], []).append(row["value"])
        # t=01:00: the 1h lookback sees the sample AND its empty label
        # signature matches the constant's → 'or' keeps only the left
        # (Prometheus). t=02:00: no sample in lookback → the fallback
        # constant fills the step.
        assert per_t == {
            "2024-01-01T01:00:00": [6.0],
            "2024-01-01T02:00:00": [0.0],
        }


def test_scan_window_covers_nested_operands():
    """Each vector operand of a nested binary scans its own window on
    the instant's one-step grid — no shared envelope."""
    bq = parse_extended_expr(
        "(rate(a[2h]) / rate(b[1h] offset 30m)) > 0.5", now=NOW
    )
    a, b = bq.left.left, bq.left.right
    assert scan_window(a, NOW, NOW, NOW) == (NOW - dt.timedelta(hours=2), NOW)
    half = dt.timedelta(minutes=30)
    assert scan_window(b, NOW, NOW, NOW) == (
        NOW - half - dt.timedelta(hours=1), NOW - half
    )


@pytest.mark.parametrize(
    "expr, lo_min, hi_min",
    [
        # Steps [NOW, NOW+2h]: each reads [t − offset − R, t − offset];
        # the upper bound stops at end − offset.
        ("rate(m[1h])", -60, 120),
        ("rate(m[1h] offset 1d)", -1500, -1320),
        # A subquery's inner grid spans [start − o − range, end − o],
        # and its selector reaches R behind that.
        ("max_over_time(rate(m[1h])[3h:30m])", -240, 120),
        ("max_over_time(rate(m[1h])[3h:30m] offset 1h)", -300, 60),
        # A fixed @ (T0 = NOW − 30m) is one window at its anchor,
        # wherever the steps are.
        ("rate(m[1h] @ 1704067200)", -90, -30),
    ],
)
def test_scan_window_follows_the_evaluator(expr, lo_min, hi_min):
    eq = parse_extended_expr(expr, now=NOW)
    lo, hi = scan_window(eq, NOW, NOW + dt.timedelta(hours=2), NOW)
    m = dt.timedelta(minutes=1)
    assert (lo, hi) == (NOW + lo_min * m, NOW + hi_min * m)


def test_scan_window_of_a_constant_is_empty():
    eq = parse_extended_expr("vector(1)", now=NOW)
    assert scan_window(eq, NOW, NOW, NOW) == (None, None)


def test_gateway_nested_binary(spark, tmp_path):
    from sensapp_spark.server.app import create_app
    from sensapp_spark.storage.lake import SensorLake

    lake = SensorLake(spark, str(tmp_path / "lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,nb_a,nb_b\n"
                 "2024-01-01T00:10:00Z,6.0,2.0\n"
                 "2024-01-01T00:40:00Z,8.0,4.0\n",
            content_type="text/csv",
        )
        import urllib.parse

        q = urllib.parse.quote(
            "(sum_over_time(nb_a[1h] @ 1704070800) "
            "/ sum_over_time(nb_b[1h] @ 1704070800)) > bool 2"
        )
        r = c.get(f"/api/v1/query?extended=true&query={q}")
        assert r.status_code == 200, r.get_data(as_text=True)
        rows = r.get_json()["result"]
        assert [row["value"] for row in rows] == [1.0]  # 14/6 > 2


def test_gateway_range_binary_served_from_rollup(spark, tmp_path):
    """Range-query binary ops (round 11): the Grafana ratio panel —
    each operand independently served from the maintained rollup when
    grain-compatible (X-Served-From blend), byte-equal to the raw
    evaluation, correct per-step values."""
    from sensapp_spark.server.app import create_app
    from sensapp_spark.storage.lake import SensorLake

    lake = SensorLake(spark, str(tmp_path / "lake"))
    app = create_app(spark, lake)
    app.testing = True
    with app.test_client() as c:
        c.post(
            "/publish",
            data="datetime,rb_a,rb_b\n"
                 "2024-01-01T00:15:00Z,6.0,2.0\n"
                 "2024-01-01T00:45:00Z,8.0,5.0\n"
                 "2024-01-01T01:30:00Z,9.0,3.0\n",
            content_type="text/csv",
        )
        q = (
            "/api/v1/query_range?query="
            "sum_over_time(rb_a[1h])/sum_over_time(rb_b[1h])"
            "&start=2024-01-01T01:00:00Z&end=2024-01-01T02:00:00Z"
            "&step=3600"
        )
        raw = c.get(q + "&rollup=0")
        assert raw.status_code == 200, raw.get_data(as_text=True)
        assert raw.headers["X-Served-From"] == "raw"
        vals = {r["t"]: r["value"] for r in raw.get_json()["result"]}
        # t=01:00: [00:00,01:00] → a=14, b=7 → 2.0; t=02:00: 9/3.
        assert vals == {
            "2024-01-01T01:00:00": 2.0,
            "2024-01-01T02:00:00": 3.0,
        }
        assert c.post(
            "/api/v1/admin/rollup/refresh"
        ).status_code == 200
        served = c.get(q)
        assert served.headers["X-Served-From"] == "rollup-3600s"

        def _rows(resp):
            return sorted(
                tuple(sorted(r.items()))
                for r in resp.get_json()["result"]
            )

        assert _rows(served) == _rows(raw)
        # Misaligned step: both sides fall back — an honest blend tag.
        r2 = c.get(q.replace("step=3600", "step=1800"))
        assert r2.headers["X-Served-From"] == "raw"
        # One side grain-compatible, the other not → mixed. (rate()
        # and stddev serve from the rollup since round 12; quantiles
        # are not mergeable.)
        q3 = (
            "/api/v1/query_range?query="
            "sum_over_time(rb_a[1h])/quantile_over_time(0.5,rb_b[1h])"
            "&start=2024-01-01T01:00:00Z&end=2024-01-01T02:00:00Z"
            "&step=3600"
        )
        r3 = c.get(q3)
        assert r3.status_code == 200
        assert r3.headers["X-Served-From"] == "mixed(rollup-3600s,raw)"
        # Comparison with scalar; group_left at range level didactic.
        r4 = c.get(q.replace(
            "sum_over_time(rb_b[1h])",
            "sum_over_time(rb_b[1h])%20%3E%202.5",  # " > 2.5"
        ))
        assert r4.status_code == 200
        assert [x["value"] for x in r4.get_json()["result"]] == [3.0]
        # group_left per step (round 11 session 2): works end-to-end.
        r5 = c.get(
            "/api/v1/query_range?query="
            "sum_over_time(rb_a[1h])%20/%20on(user)%20group_left%20"
            "sum%20by%20(user)%20(sum_over_time(rb_b[1h]))"
            "&start=2024-01-01T01:00:00Z&end=2024-01-01T02:00:00Z"
            "&step=3600"
        )
        assert r5.status_code == 200, r5.get_data(as_text=True)
        vals5 = {r["t"]: r["value"] for r in r5.get_json()["result"]}
        assert vals5 == {
            "2024-01-01T01:00:00": 2.0,
            "2024-01-01T02:00:00": 3.0,
        }

@pytest.mark.parametrize(
    "expr, want",
    [
        ("sum by (user) (a) * 10", [("u1", 40.0), ("u2", 90.0)]),
        ("10 - sum by (user) (a)", [("u1", 6.0), ("u2", 1.0)]),
        ("sum by (user) (a) > 5", [("u2", 9.0)]),
        ("sum by (user) (a) > bool 5", [("u1", 0.0), ("u2", 1.0)]),
        ("sum by (user) (a) / scalar(sum(b))", [("u1", 0.8), ("u2", 1.8)]),
    ],
)
def test_grouped_operand_keeps_group_keys_with_scalar(frames, expr, want):
    """Vector∘scalar over a by-grouped operand answers the group
    columns, as the aggregate alone does — instant and per step."""
    from sensapp_spark.query.promql_ext import evaluate_range_binary

    sensors, vals = frames
    bq = parse_extended_expr(expr, now=NOW)
    out = evaluate_binary(sensors, vals, bq)
    assert out.columns == ["user", "value"]
    assert sorted((r.user, round(r.value, 6)) for r in out.collect()) == want
    out = evaluate_range_binary(
        sensors, vals, bq,
        start=T0 + dt.timedelta(minutes=10),
        end=T0 + dt.timedelta(minutes=20),
        step_seconds=600, now=NOW,
    )
    assert sorted(out.columns) == ["t", "user", "value"]
    assert sorted(
        (r.t.minute, r.user, round(r.value, 6)) for r in out.collect()
    ) == sorted((m, u, v) for m in (10, 20) for u, v in want)
