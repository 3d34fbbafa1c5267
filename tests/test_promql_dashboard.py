"""PromQL dashboard-tail functions (round 7 — VERDICT r6 gap #4):
``@`` evaluation anchors, ``sort``/``sort_desc``, ``time()``/
``vector()``/``scalar()``, and the calendar functions. Prometheus
reference semantics: prometheus/prometheus promql/functions.go
(funcTime, funcVector, funcScalar, dateWrapper/funcDayOfWeek et al.)
and promql/parser for the @ modifier; the reference engine rejects all
of these (src/ingestors/http/simple_promql.rs:149-171), so this whole
surface is beyond-reference polish.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from sensapp_spark.query.promql_ext import (
    BinaryQuery,
    PromQLError,
    evaluate_binary,
    evaluate_extended,
    parse_extended,
    parse_extended_expr,
)

T0 = dt.datetime(2024, 1, 1)  # a Monday, 00:00 UTC
NOW = T0 + dt.timedelta(minutes=30)
NOW_EPOCH = NOW.replace(tzinfo=dt.timezone.utc).timestamp()


@pytest.fixture(scope="module")
def frames(spark):
    sensors = spark.createDataFrame(
        [
            ("s1", "m", "Float", None, None, {"job": "a"}),
            ("s2", "m", "Float", None, None, {"job": "b"}),
            ("s3", "n", "Float", None, None, {"job": "a"}),
        ],
        "sensor_id string, name string, type string, unit string, "
        "unit_description string, labels map<string,string>",
    )
    rows = (
        [("s1", T0 + dt.timedelta(minutes=i), float(i)) for i in range(5)]
        + [("s2", T0 + dt.timedelta(minutes=i), 10.0 - i) for i in range(5)]
        + [("s3", T0 + dt.timedelta(minutes=i), 5.0) for i in range(5)]
    )
    vals = spark.createDataFrame(
        rows, "sensor_id string, time timestamp, value double"
    )
    return sensors, vals


def _run(frames, expr):
    sensors, vals = frames
    eq = parse_extended_expr(expr, now=NOW)
    if isinstance(eq, BinaryQuery):
        out = evaluate_binary(sensors, vals, eq)
    else:
        out = evaluate_extended(sensors, vals, eq)
    return out.collect()


# -- constants: time() / vector() ------------------------------------------

def test_time_returns_eval_epoch(frames):
    (row,) = _run(frames, "time()")
    assert row.value == NOW_EPOCH
    assert row.labels == {}


def test_vector_scalar_constant(frames):
    (row,) = _run(frames, "vector(42)")
    assert (row.value, row.labels) == (42.0, {})


def test_vector_composes_with_agg_and_posts(frames):
    (row,) = _run(frames, "sum(vector(2))")
    assert row.value == 2.0
    (row,) = _run(frames, "abs(vector(-3))")
    assert row.value == 3.0


def test_or_vector_fallback_pattern(frames):
    """`m or vector(0)`: the classic dashboard default — m has series,
    so the empty-label vector(0) row joins only when no left series
    carries the empty label set (here both m series have labels, so
    vector(0) survives the anti-join)."""
    rows = _run(frames, "m or vector(0)")
    assert len(rows) == 3  # s1, s2, and the constant fallback row
    assert sorted(r.value for r in rows)[0] == 0.0


def test_and_vector_is_legal_set_op(frames):
    """vector(1) is a VECTOR (unlike time()'s scalar), so set ops
    accept it; nothing in m carries the empty label set, so the
    intersection is empty — Prometheus semantics, not an error."""
    assert _run(frames, "m and vector(1)") == []


def test_vector_rejections(frames):
    with pytest.raises(PromQLError, match="takes a scalar"):
        parse_extended("vector(m)", now=NOW)
    with pytest.raises(PromQLError, match="takes no arguments"):
        parse_extended("time(5)", now=NOW)


# -- calendar functions ------------------------------------------------------

def test_date_functions_default_argument(frames):
    """hour() ≡ hour(vector(time())) — NOW is 00:30 UTC on Monday
    2024-01-01."""
    cases = {
        "minute()": 30.0,
        "hour()": 0.0,
        "day_of_week()": 1.0,  # Prometheus: 0=Sunday → Monday=1
        "day_of_month()": 1.0,
        "day_of_year()": 1.0,
        "month()": 1.0,
        "year()": 2024.0,
        "days_in_month()": 31.0,
    }
    for expr, want in cases.items():
        (row,) = _run(frames, expr)
        assert row.value == want, expr


def test_date_function_over_timestamp_vector(frames):
    rows = _run(frames, "hour(timestamp(m))")
    assert [r.value for r in rows] == [0.0, 0.0]
    rows = _run(frames, "day_of_week(timestamp(m))")
    assert all(r.value == 1.0 for r in rows)


def test_days_in_month_february_leap(frames):
    # vector(<epoch of 2024-02-15>) — leap February.
    feb = dt.datetime(2024, 2, 15, tzinfo=dt.timezone.utc).timestamp()
    (row,) = _run(frames, f"days_in_month(vector({int(feb)}))")
    assert row.value == 29.0


# -- sort / sort_desc --------------------------------------------------------

def test_sort_orders_by_value(frames):
    rows = _run(frames, "sort(m)")
    assert [(r.sensor_id, r.value) for r in rows] == [("s1", 4.0),
                                                      ("s2", 6.0)]
    rows = _run(frames, "sort_desc(m)")
    assert [(r.sensor_id, r.value) for r in rows] == [("s2", 6.0),
                                                      ("s1", 4.0)]


def test_sort_over_aggregation(frames):
    rows = _run(frames, "sort_desc(sum by (job) (m))")
    assert [(r.job, r.value) for r in rows] == [("b", 6.0), ("a", 4.0)]


def test_sort_rejections(frames):
    for expr, frag in [
        ("sum(sort(m))", "outermost"),
        ("sort(sort_desc(m))", "cannot nest"),
        ("sort(m) + n", "not supported"),
        ("sort(m / n)", "binary operation is not supported"),
        ("absent(sort(m))", "plain selector"),
        # Histogram results carry canonicalized STRING labels — no map
        # to order by; must be a parse-time didactic rejection, not an
        # evaluation-time AnalysisException (advisor r7, low).
        (
            'sort_by_label(histogram_quantile(0.9, m), "job")',
            "canonicalized",
        ),
        (
            'sort_by_label_desc(histogram_fraction(0, 1, m), "job")',
            "canonicalized",
        ),
    ]:
        with pytest.raises(PromQLError, match=frag):
            _run(frames, expr)


# -- @ modifier --------------------------------------------------------------

def _epoch(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp())


def test_at_anchors_absolute_window(frames):
    at = _epoch(T0 + dt.timedelta(minutes=2))
    rows = _run(frames, f"avg_over_time(m[2m] @ {at})")
    # Window [00:00, 00:02]: s1 avg(0,1,2)=1, s2 avg(10,9,8)=9.
    assert sorted((r.sensor_id, r.value) for r in rows) == [
        ("s1", 1.0), ("s2", 9.0)
    ]


def test_at_with_offset_either_order(frames):
    at = _epoch(T0 + dt.timedelta(minutes=2))
    # offset applies relative to the @ anchor (Prometheus), so both
    # spellings read [00:00, 00:01]: s1 avg(0,1)=0.5, s2 avg(10,9)=9.5.
    for expr in (
        f"avg_over_time(m[1m] @ {at} offset 1m)",
        f"avg_over_time(m[1m] offset 1m @ {at})",
    ):
        rows = _run(frames, expr)
        assert sorted((r.sensor_id, r.value) for r in rows) == [
            ("s1", 0.5), ("s2", 9.5)
        ], expr


def test_at_rejections(frames):
    with pytest.raises(PromQLError, match="only meaningful"):
        _run(frames, "m @ start()")
    with pytest.raises(PromQLError, match="duplicate @"):
        _run(frames, "m @ 5 @ 6")
    with pytest.raises(PromQLError, match="duplicate offset"):
        # Prometheus parse-rejects duplicate offset too; silently
        # summing them would read the wrong window (round-7 review).
        _run(frames, "avg_over_time(m[5m] offset 1h offset 30m)")
    # `rate(m[5m:1m] @ ts)` is a SUPPORTED @-anchored subquery since
    # late round 7 (test_promql_subquery pins its semantics); @ inside
    # the subquery BODY stays rejected.
    eq = parse_extended("rate(m[5m:1m] @ 99)", now=NOW)
    assert eq.sub_inner is not None and eq.at_fixed
    with pytest.raises(PromQLError, match="inside a subquery"):
        _run(frames, "max_over_time(avg_over_time(m[2m] @ 99)[10m:5m])")


def test_at_preserves_timezone_awareness(frames):
    """An aware `now` (the HTTP server's convention) must yield aware
    anchored windows — a naive/aware mix crashed every later datetime
    subtraction in the handlers with a 500 (round-7 review, verified
    by execution)."""
    at = _epoch(T0 + dt.timedelta(minutes=2))
    aware_now = NOW.replace(tzinfo=dt.timezone.utc)
    eq = parse_extended(f"avg_over_time(m[2m] @ {at})", now=aware_now)
    assert eq.selector.end_time.tzinfo is not None
    # The subtraction the query_range handler performs:
    assert aware_now - eq.selector.end_time == dt.timedelta(minutes=28)
    # Naive `now` (registry convention) stays naive.
    eq = parse_extended(f"avg_over_time(m[2m] @ {at})", now=NOW)
    assert eq.selector.end_time.tzinfo is None


def test_needs_extended_covers_every_capability(frames):
    """The HTTP dispatch predicate must fire for every extended-grammar
    shape — the handler's hand-enumerated booleans missed new fields
    twice (round-7 review)."""
    from sensapp_spark.query.promql_ext import needs_extended

    at = _epoch(T0 + dt.timedelta(minutes=2))
    for expr in [
        "rate(m[5m])",
        "sum(m)",
        "histogram_quantile(0.5, m)",
        "histogram_fraction(0, 1, m)",
        "vector(1)",
        "time()",
        "sort(m)",
        f"m @ {at}",
        "m offset 1h",
        "avg_over_time(m[5m] offset 1h)",
        "max_over_time(m[10m:5m])",
        'label_replace(m, "a", "b", "job", ".*")',
        "abs(m)",
    ]:
        assert needs_extended(parse_extended(expr, now=NOW)), expr
    assert not needs_extended(parse_extended("m", now=NOW))
    assert not needs_extended(parse_extended('m{job="a"}', now=NOW))


def test_at_in_range_query_repeats_constant(frames):
    """Prometheus: a fixed @ anchor makes the expression constant over
    the range — every step carries the anchor-time value (round 7;
    previously a didactic rejection)."""
    from sensapp_spark.query.promql_ext import evaluate_range

    sensors, vals = frames
    at = _epoch(T0 + dt.timedelta(minutes=2))
    eq = parse_extended(f"avg_over_time(m[2m] @ {at})", now=NOW)
    out = evaluate_range(
        sensors, vals, eq, T0, T0 + dt.timedelta(minutes=2), 60.0
    )
    rows = out.collect()
    assert sorted({str(r.t)[14:16] for r in rows}) == ["00", "01", "02"]
    by_sensor = {}
    for r in rows:
        by_sensor.setdefault(r.sensor_id, set()).add(r.value)
    # Same anchored value at every step: s1 avg(0,1,2)=1, s2 avg=9.
    assert by_sensor == {"s1": {1.0}, "s2": {9.0}}


def test_absent_in_range_query_marks_missing_steps(frames):
    """absent_over_time(m[2m]) range-evaluated: a row per step whose
    window holds no samples (round 7; previously rejected). Samples
    exist for minutes 0-4, so steps ≤ 00:06 are covered and later
    steps report absence."""
    from sensapp_spark.query.promql_ext import evaluate_range

    sensors, vals = frames
    eq = parse_extended("absent_over_time(m[2m])", now=NOW)
    out = evaluate_range(
        sensors, vals, eq, T0, T0 + dt.timedelta(minutes=10), 120.0
    )
    rows = sorted((str(r.t)[11:16], r.value) for r in out.collect())
    assert rows == [("00:08", 1.0), ("00:10", 1.0)]
    # The present metric yields no absence rows over a covered range.
    out = evaluate_range(
        sensors, vals, eq, T0, T0 + dt.timedelta(minutes=4), 120.0
    )
    assert out.collect() == []


def test_metric_named_like_function_stays_selector(frames):
    """A metric literally named `time` (with a selector body) parses as
    a selector inside absent(), not as the time() function."""
    eq = parse_extended('absent(time{job="x"})', now=NOW)
    assert eq.func == "absent" and eq.selector is not None


# -- scalar() ----------------------------------------------------------------

def test_scalar_divides_vector(frames):
    rows = _run(frames, "m / scalar(sum(n))")
    assert sorted((r.sensor_id, r.value) for r in rows) == [
        ("s1", 0.8), ("s2", 1.2)
    ]


def test_scalar_of_multi_series_is_nan(frames):
    rows = _run(frames, "m / scalar(n)")  # n is 1 series → fine
    assert all(r.value in (0.8, 1.2) for r in rows)
    rows = _run(frames, "n / scalar(m)")  # m is 2 series → NaN
    assert all(math.isnan(r.value) for r in rows)


def test_scalar_comparison_and_bool(frames):
    rows = _run(frames, "m > scalar(n)")  # n instant = 5.0
    assert [(r.sensor_id, r.value) for r in rows] == [("s2", 6.0)]
    rows = _run(frames, "m > bool scalar(n)")
    assert sorted((r.sensor_id, r.value) for r in rows) == [
        ("s1", 0.0), ("s2", 1.0)
    ]


def test_time_as_binary_scalar(frames):
    rows = _run(frames, "timestamp(m) - time()")
    # Last sample at 00:04, NOW 00:30 → −26 minutes.
    assert all(r.value == -26 * 60 for r in rows)


def test_scalar_rejections(frames):
    for expr, frag in [
        ("scalar(sum(n))", "binary-operation operand"),
        ("time() + 1", "scalar-only"),
        ("m and time()", "set operation"),
        ("m / on (job) group_left scalar(n)", "scalar .* no series"),
        ("m / scalar(absent(n))", "absent"),
    ]:
        with pytest.raises(PromQLError, match=frag):
            _run(frames, expr)


# -- range-query guards ------------------------------------------------------

def test_const_and_sort_rejected_in_range(frames):
    """sort() has no order across steps and stays rejected in a range
    query; constants evaluate per step — vector(1) is one empty-label
    series at every step, time() each step's own timestamp."""
    from sensapp_spark.query.promql_ext import evaluate_range

    sensors, vals = frames
    with pytest.raises(PromQLError, match="no defined order"):
        evaluate_range(
            sensors, vals, parse_extended("sort(m)", now=NOW), T0, NOW, 60.0
        )
    steps = [T0 + dt.timedelta(minutes=i) for i in range(31)]
    rows = evaluate_range(
        sensors, vals, parse_extended("vector(1)", now=NOW), T0, NOW, 60.0
    ).collect()
    assert sorted(r.t for r in rows) == steps
    assert {(r.sensor_id, r.value) for r in rows} == {(None, 1.0)}
    assert all(r.labels == {} for r in rows)
    rows = evaluate_range(
        sensors, vals, parse_extended("time()", now=NOW), T0, NOW, 60.0
    ).collect()
    assert sorted((r.t, r.value) for r in rows) == [
        (t, t.replace(tzinfo=dt.timezone.utc).timestamp()) for t in steps
    ]
