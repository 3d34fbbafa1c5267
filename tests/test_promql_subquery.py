"""PromQL subqueries (``outer_func(expr[range:step])``) — the
reference's base parser rejects subqueries outright
(query/promql.py keeps that rejection); the extended grammar evaluates
them through the range-query machinery (one bounded explode + one
(series, step) reduction), then folds the step samples with the outer
range function. These tests pin the composition against an explicit
``evaluate_range`` + groupBy cross-check, the inner/outer shape rules,
and the rejection matrix.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sensapp_spark.plans import testdata as td
from sensapp_spark.query.promql_ext import (
    PromQLError,
    evaluate_extended,
    evaluate_range,
    parse_extended,
)

from tests.conftest import SF_SMOKE

NOW = dt.datetime(2024, 1, 25)


@pytest.fixture(scope="module")
def frames(spark):
    return (
        td.events_sensors(spark, SF_SMOKE),
        td.events_values(spark, SF_SMOKE),
    )


def _run(frames, expr):
    sensors, vals = frames
    return evaluate_extended(
        sensors, vals, parse_extended(expr, now=NOW)
    )


def test_subquery_equals_explicit_range_fold(frames):
    """max_over_time(rate(m[2d])[20d:1d]) == max over the explicit
    21-step range evaluation of rate(m[2d])."""
    sensors, vals = frames
    got = {
        r.sensor_id: round(r.value, 9)
        for r in _run(frames, "max_over_time(rate(click[2d])[20d:1d])")
        .collect()
    }
    steps = evaluate_range(
        sensors, vals,
        parse_extended("rate(click[2d])", now=NOW),
        NOW - dt.timedelta(days=20), NOW, 86400,
    )
    want = {
        r.sensor_id: round(r.mx, 9)
        for r in steps.groupBy("sensor_id")
        .agg(F.max("value").alias("mx"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_subquery_outer_rate_over_instant_inner(frames):
    """rate(m[20d:1d]) — instant inner (last-sample per step), outer
    rate = rise/span over the step samples."""
    out = _run(frames, "rate(click[20d:1d])")
    assert out.columns == ["sensor_id", "name", "labels", "value"]
    assert out.count() > 0


def test_subquery_aggregated_inner_shape(frames):
    out = _run(frames, "max_over_time(sum(rate(click[2d]))[20d:1d])")
    assert out.columns == ["value"]
    assert out.count() == 1
    out_by = _run(
        frames,
        "max_over_time(sum by (region) (rate(click[2d]))[20d:1d])",
    )
    assert out_by.columns == ["region", "value"]


def test_enclosing_aggregation_composes(frames):
    per_series = {
        r.sensor_id: r.value
        for r in _run(frames, "max_over_time(rate(click[2d])[20d:1d])")
        .collect()
    }
    total = _run(
        frames, "sum(max_over_time(rate(click[2d])[20d:1d]))"
    ).collect()
    assert total[0].value == pytest.approx(sum(per_series.values()))


def test_subquery_inner_offset_shifts_windows(frames):
    """`rate(m[2d] offset 5d)` inside a subquery evaluates each step
    over [t−5d−2d, t−5d] — identical to the offset-free subquery
    anchored 5 days earlier (round-6 review: the offset was silently
    ignored)."""
    sensors, vals = frames
    shifted = evaluate_extended(
        sensors, vals,
        parse_extended(
            "max_over_time(rate(click[2d] offset 5d)[20d:1d])", now=NOW
        ),
    )
    anchored = evaluate_extended(
        sensors, vals,
        parse_extended(
            "max_over_time(rate(click[2d])[20d:1d])",
            now=NOW - dt.timedelta(days=5),
        ),
    )
    got = {r.sensor_id: round(r.value, 9) for r in shifted.collect()}
    want = {r.sensor_id: round(r.value, 9) for r in anchored.collect()}
    assert got == want and len(got) > 0


def test_binary_rejects_non_series_operands(frames):
    from sensapp_spark.query.promql_ext import (
        evaluate_binary,
        parse_extended_expr,
    )

    sensors, vals = frames
    for expr, frag in [
        (
            "histogram_quantile(0.5, click) / rate(click[2d])",
            "histogram-function operands",
        ),
        (
            "max_over_time(sum(rate(click[2d]))[20d:1d]) / rate(click[2d])",
            "Aggregated-inner subquery operands",
        ),
    ]:
        with pytest.raises(PromQLError) as exc:
            evaluate_binary(
                sensors, vals, parse_extended_expr(expr, now=NOW)
            )
        assert frag in str(exc.value)


def test_subquery_at_and_offset_modifiers(frames):
    """Round 7: a subquery carries its own trailing @/offset
    (Prometheus grammar) — `e[r:s] @ t` anchors the step grid at t,
    `e[r:s] offset d` at now−d, and `@ t offset d` at t−d."""
    import datetime as dtm

    sensors, vals = frames
    shifted_now = NOW - dtm.timedelta(days=5)
    want = sorted(
        tuple(r)
        for r in evaluate_extended(
            sensors, vals,
            parse_extended("max_over_time(click[10d:1d])",
                           now=shifted_now),
        ).collect()
    )
    at = int(
        shifted_now.replace(tzinfo=dtm.timezone.utc).timestamp()
    )
    for expr in (
        f"max_over_time(click[10d:1d] @ {at})",
        "max_over_time(click[10d:1d] offset 5d)",
        f"max_over_time(click[10d:1d] @ {at + 86400} offset 1d)",
    ):
        got = sorted(
            tuple(r)
            for r in evaluate_extended(
                sensors, vals, parse_extended(expr, now=NOW)
            ).collect()
        )
        assert got == want and len(got) > 0, expr


def test_subquery_modifier_rejections(frames):
    import datetime as dtm

    from sensapp_spark.query.promql_ext import evaluate_range

    sensors, vals = frames
    with pytest.raises(PromQLError, match="fold the shifts"):
        parse_extended(
            "max_over_time(click[10d:1d] offset 1d)".replace(
                "click", "click offset 1d"
            ),
            now=NOW,
        )
    # A subquery offset shifts the subquery's step grid at every range
    # step: each step T equals the instant answer evaluated at T.
    expr = "max_over_time(click[10d:1d] offset 1d)"
    steps = evaluate_range(
        sensors, vals, parse_extended(expr, now=NOW),
        NOW - dtm.timedelta(days=2), NOW, 86400,
    ).collect()
    assert steps
    for k in range(3):
        at = NOW - dtm.timedelta(days=2 - k)
        want = sorted(
            (r.sensor_id, r.value)
            for r in evaluate_extended(
                sensors, vals, parse_extended(expr, now=at)
            ).collect()
        )
        got = sorted((r.sensor_id, r.value) for r in steps if r.t == at)
        assert got == want and got, at


def test_subquery_count_is_long(frames):
    out = _run(frames, "count_over_time(click[20d:1d])")
    assert dict(out.dtypes)["value"] == "bigint"


@pytest.mark.parametrize(
    "expr, fragment",
    [
        ("max_over_time(rate(click[2d])[20d:])", "explicit step"),
        ("irate(click[20d:1d])", "over a subquery is not supported"),
        (
            "sum(max_over_time(sum(rate(click[2d]))[20d:1d]))",
            "inside the subquery or outside",
        ),
        (
            "max_over_time(max_over_time(click[5d:1d])[20d:1d])",
            "Nested subqueries",
        ),
        (
            "max_over_time(count_values(\"v\", click)[20d:1d])",
            "count_values inside a subquery",
        ),
    ],
)
def test_subquery_rejections(frames, expr, fragment):
    with pytest.raises(PromQLError) as exc:
        parse_extended(expr, now=NOW)
    assert fragment in str(exc.value)
