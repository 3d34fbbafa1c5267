"""Golden corpus of extended-PromQL INSTANT answers.

A seeded small lake (gauges, counters with a reset, le-bucket
histograms, an info metric) and one instant expression per shape the
extended grammar evaluates: every range function, by/without
aggregation, the selectors and samplers, nested aggregation, the
histogram functions, absent, label functions, ``@``/``offset``,
subqueries (including a subquery offset), constants, sorting, and the
binary operations (scalar, ``scalar()``, ``time()``, one-to-one,
global ratios, set operations, ``group_left``). Each answer is
compared with the committed ``tests/golden/promql_instant_corpus.json``
(values at rel_tol 1e-9; row order only for the sort functions).

To regenerate after an INTENTIONAL semantic change:

    GOLDEN_REGEN=1 python -m pytest tests/test_promql_instant_corpus.py

then review the diff like any code change.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import pathlib
import random

import pytest

from sensapp_spark.query.promql_ext import (
    BinaryQuery,
    evaluate_binary,
    evaluate_extended,
    parse_extended_expr,
)

GOLDEN = pathlib.Path(__file__).parent / "golden" / "promql_instant_corpus.json"
REGEN = os.environ.get("GOLDEN_REGEN") == "1"

T0 = dt.datetime(2024, 1, 1)
NOW = T0 + dt.timedelta(hours=2)
AT = int((T0 + dt.timedelta(hours=1)).replace(tzinfo=dt.timezone.utc).timestamp())

CORPUS = [
    # selectors and modifiers
    "m",
    'm{region="eu"}',
    "m offset 10m",
    f"m @ {AT}",
    "timestamp(m)",
    # range functions
    "rate(c[30m])",
    "increase(c[30m])",
    "delta(m[30m])",
    "irate(c[30m])",
    "idelta(m[30m])",
    "changes(m[30m])",
    "resets(c[1h])",
    "deriv(m[30m])",
    "predict_linear(m[30m], 600)",
    "predict_linear(m[30m] offset 10m, 600)",
    "avg_over_time(m[30m])",
    "sum_over_time(m[30m])",
    "min_over_time(m[30m] offset 15m)",
    "max_over_time(m[30m])",
    "count_over_time(m[30m])",
    "last_over_time(m[30m])",
    "quantile_over_time(0.9, m[30m])",
    "stddev_over_time(m[30m])",
    "stdvar_over_time(m[30m])",
    "present_over_time(m[30m])",
    "mad_over_time(m[30m])",
    "holt_winters(m[30m], 0.5, 0.3)",
    f"rate(c[30m] @ {AT})",
    # aggregations and samplers
    "sum by (region) (rate(c[30m]))",
    "avg without (host) (m)",
    "count(m)",
    "max(m)",
    "group by (region) (m)",
    "stddev(m)",
    "quantile(0.5, m)",
    "topk(2, m)",
    "bottomk by (region) (1, m)",
    "limitk(2, m)",
    "limit_ratio(0.5, m)",
    'count_values("v", round(m, 10))',
    f"sum by (region) (avg_over_time(m[30m] @ {AT}))",
    # nested aggregation
    "topk(1, sum by (region) (m))",
    "sum(topk(2, m))",
    "max by (region) (sum by (region, host) (m))",
    "sum(topk(1, sum by (region) (m)))",
    # histograms
    "histogram_quantile(0.9, req_bucket)",
    "histogram_quantile(0.5, sum by (le) (rate(req_bucket[30m])))",
    "histogram_fraction(0, 0.5, req_bucket)",
    "max(histogram_quantile(0.9, req_bucket))",
    # absent
    'absent(nosuch{job="x"})',
    "absent(m)",
    "absent_over_time(nosuch[5m])",
    # label functions and element-wise posts
    'label_replace(m, "dc", "dc-$1", "region", "(.*)")',
    'sum by (dc) (label_replace(m, "dc", "dc-$1", "region", "(.*)"))',
    'label_join(m, "id", "-", "region", "host")',
    "clamp(abs(m), 20, 60)",
    "round(ln(m), 0.01)",
    # subqueries
    "max_over_time(rate(c[10m])[30m:5m])",
    "avg_over_time(m[30m:10m])",
    "max_over_time(sum(m)[30m:10m])",
    "max_over_time(m[30m:10m] offset 10m)",
    f"min_over_time(m[30m:10m] @ {AT})",
    "sum by (region) (avg_over_time(m[30m:10m]))",
    # constants
    "vector(1)",
    "time()",
    "hour()",
    "sum(vector(2))",
    # sorting
    "sort(m)",
    "sort_desc(rate(c[30m]))",
    'sort_by_label(m, "host")',
    # empty aggregates (Prometheus: no sample in, no row out)
    "sum(nosuch)",
    "count(nosuch)",
    "max(histogram_quantile(0.9, nosuch_bucket))",
    # binary operations
    "m / 2",
    "100 - m",
    "m > 50",
    "m > bool 50",
    "m / scalar(sum(m))",
    "m / scalar(nosuch)",
    "time() - timestamp(m)",
    "c / on(host) m",
    "m - m offset 30m",
    "sum(m) / count(m)",
    "sum(m) / (sum(m) + sum(c))",
    "(m / 2) > 20",
    "m and on(host) c",
    "m unless on(host) c",
    "c or on(host) m",
    "nosuch or vector(0)",
    "m * on(host) group_left(team) info",
    "m / on(region) group_left sum by (region) (m)",
    "sum(nosuch) / count(nosuch)",
]


@pytest.fixture(scope="module")
def lake_frames(spark):
    rng = random.Random(20240101)
    sensors, rows = [], []

    def series(sid, name, labels, values):
        sensors.append((sid, name, "Float", None, None, labels))
        for i, v in enumerate(values):
            rows.append((sid, T0 + dt.timedelta(minutes=i), v))

    n = 121  # one sample a minute over [T0, NOW]
    for host, region in (("a", "eu"), ("b", "eu"), ("c", "us"), ("d", "us")):
        series(
            f"m-{host}", "m", {"region": region, "host": host},
            [round(rng.uniform(10, 90), 1) for _ in range(n)],
        )
    for host, region in (("a", "eu"), ("c", "us")):
        total, vals = 0.0, []
        for i in range(n):
            total = 0.0 if i == 70 else total + rng.randint(0, 9)
            vals.append(total)
        series(f"c-{host}", "c", {"region": region, "host": host}, vals)
        series(
            f"info-{host}", "info",
            {"region": region, "host": host, "team": f"t-{host}"},
            [1.0] * n,
        )
    for svc in ("api", "web"):
        counts = [0.0, 0.0, 0.0, 0.0]
        per_le = {le: [] for le in ("0.1", "0.5", "1", "+Inf")}
        for _ in range(n):
            for k in range(4):
                counts[k] += rng.randint(0, 3)
            cum = 0.0
            for k, le in enumerate(per_le):
                cum += counts[k]
                per_le[le].append(cum)
        for le, vals in per_le.items():
            series(
                f"req-{svc}-{le}", "req_bucket", {"svc": svc, "le": le}, vals
            )
    s = spark.createDataFrame(
        sensors,
        "sensor_id string, name string, type string, unit string, "
        "unit_description string, labels map<string,string>",
    )
    v = spark.createDataFrame(
        rows, "sensor_id string, time timestamp, value double"
    )
    return s.cache(), v.cache()


def _enc(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        if math.isinf(x):
            return "+Inf" if x > 0 else "-Inf"
        return x
    if isinstance(x, dict):
        return {k: x[k] for k in sorted(x)}
    return x


def _answer(lake_frames, expr: str) -> dict:
    sensors, values = lake_frames
    q = parse_extended_expr(expr, now=NOW)
    if isinstance(q, BinaryQuery):
        out = evaluate_binary(sensors, values, q)
    else:
        out = evaluate_extended(sensors, values, q)
    rows = [[_enc(x) for x in r] for r in out.collect()]
    ordered = expr.startswith("sort")
    if not ordered:
        rows.sort(key=lambda r: json.dumps(r, sort_keys=True, default=str))
    return {"columns": out.columns, "ordered": ordered, "rows": rows}


def _same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b and type(a) is type(b)
    return a == b


def _golden() -> dict:
    return json.loads(GOLDEN.read_text()) if GOLDEN.exists() else {}


@pytest.fixture(scope="module")
def regen_sink():
    answers: dict = {}
    yield answers
    if REGEN:
        GOLDEN.write_text(json.dumps(answers, indent=1, sort_keys=True) + "\n")


def test_corpus_covers_every_expression_once():
    assert len(CORPUS) == len(set(CORPUS)) >= 50
    if not REGEN:
        assert sorted(_golden()) == sorted(CORPUS)


@pytest.mark.parametrize("expr", CORPUS)
def test_instant_answer_matches_golden(lake_frames, regen_sink, expr):
    got = _answer(lake_frames, expr)
    if REGEN:
        regen_sink[expr] = got
        return
    want = _golden()[expr]
    assert got["columns"] == want["columns"], expr
    assert len(got["rows"]) == len(want["rows"]), (expr, got["rows"])
    for g, w in zip(got["rows"], want["rows"]):
        assert len(g) == len(w) and all(
            _same_value(a, b) for a, b in zip(g, w)
        ), (expr, g, w)
