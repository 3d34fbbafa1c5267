"""One PromQL evaluator: an instant query is a one-step range query.

``evaluate_extended``/``evaluate_binary`` (and the rollup-served
``evaluate_instant_rollup``) evaluate the one-step grid at the query's
evaluation instant through the range functions and drop the step
column; there is no second, instant-only evaluator to keep in parity.
The gateway keeps one request path too: ``/api/v1/query?extended=1``
runs the ``/api/v1/query_range`` pipeline on a one-step grid.

The static checks below fail if an instant twin is defined again, a
wrapper stops delegating, the gateway grows a second extended-PromQL
path, or the rollup stores stop sharing one bucket fan-out; the Spark
checks pin the Prometheus semantics the single path gives an aggregate
over an empty vector.
"""

from __future__ import annotations

import ast
import datetime as dt
import os

import pytest

from sensapp_spark.query.promql_ext import (
    BinaryQuery,
    evaluate_binary,
    evaluate_extended,
    parse_extended_expr,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "sensapp_spark",
)
DELETED_TWINS = {
    "_evaluate_extended_core",
    "_finish_instant",
    "_finish_instant_core",
    "_const_vector",
    "_evaluate_absent",
    "_evaluate_subquery",
    "_evaluate_group_binary",
}


def _functions(
    module: str, package: str = "query"
) -> dict[str, ast.FunctionDef]:
    with open(os.path.join(PKG, package, module)) as fh:
        tree = ast.parse(fh.read())
    return {
        n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
    }


def _called(fn: ast.FunctionDef) -> set[str]:
    return {
        n.func.id if isinstance(n.func, ast.Name) else n.func.attr
        for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, (ast.Name, ast.Attribute))
    }


@pytest.mark.parametrize("module", ["promql_ext.py", "rollup_serve.py"])
def test_no_instant_twin_is_defined(module):
    assert not DELETED_TWINS & set(_functions(module))


@pytest.mark.parametrize(
    "module, wrapper, delegate",
    [
        ("promql_ext.py", "evaluate_extended", "evaluate_range"),
        ("promql_ext.py", "evaluate_binary", "evaluate_range_binary"),
        ("rollup_serve.py", "evaluate_instant_rollup", "evaluate_range_rollup"),
        ("rollup_serve.py", "rollup_serveable_instant", "rollup_serveable"),
    ],
)
def test_instant_entry_points_delegate_to_the_range_path(
    module, wrapper, delegate
):
    assert delegate in _called(_functions(module)[wrapper])


def test_gateway_has_one_extended_promql_path():
    """Both extended routes call the one handler; the instant route
    calls none of the instant entry points, and the range route's old
    private time parser and scan-bounds helper stay gone."""
    fns = _functions("app.py", "server")
    instant = _called(fns["promql_query"])
    assert not instant & {
        "evaluate_extended",
        "evaluate_binary",
        "evaluate_instant_rollup",
        "rollup_serveable_instant",
        "data_window",
    }
    assert "_evaluate_promql" in instant
    assert "_evaluate_promql" in _called(fns["promql_query_range"])
    assert not {"parse_time", "_scan_bounds"} & set(fns)


def test_per_series_reduction_has_one_caller():
    callers = {
        name
        for name, fn in _functions("promql_ext.py").items()
        if "_per_series_agg" in _called(fn)
    }
    assert callers == {"evaluate_range"}


def test_rollup_windows_share_one_bucket_fan_out():
    """Both rollup stores fold buckets onto the step grid through one
    function: it alone explodes a bucket over its steps and asserts
    the grain alignment; the quantile store's module keeps only the
    store, and the one-step grain substitute stays gone."""
    fns = _functions("rollup_serve.py")
    fan_outs = {n for n, fn in fns.items() if "sequence" in _called(fn)}
    assert fan_outs == {"_bucket_windows"}
    raisers = {n for n, fn in fns.items() if "ValueError" in _called(fn)}
    assert raisers == {"_bucket_windows"}
    for caller in ("range_windows", "quantile_windows"):
        assert "_bucket_windows" in _called(fns[caller])
    assert "_store_grid" not in fns
    assert not {
        n for n, fn in _functions("qrollup.py", "storage").items()
        if n.endswith("_windows") or {"sequence", "explode"} & _called(fn)
    }


NOW = dt.datetime(2024, 1, 1, 1)


@pytest.fixture(scope="module")
def frames(spark):
    sensors = spark.createDataFrame(
        [("s1", "m", "Float", None, None, {"job": "a"})],
        "sensor_id string, name string, type string, unit string, "
        "unit_description string, labels map<string,string>",
    )
    vals = spark.createDataFrame(
        [("s1", NOW - dt.timedelta(minutes=i), float(i)) for i in range(5)],
        "sensor_id string, time timestamp, value double",
    )
    return sensors, vals


@pytest.mark.parametrize(
    "expr",
    [
        "sum(nosuch)",
        "count(nosuch)",
        "max(histogram_quantile(0.9, nosuch_bucket))",
        "sum(nosuch) / count(nosuch)",
    ],
)
def test_aggregate_over_empty_vector_is_empty(frames, expr):
    """Prometheus: an aggregation over an empty vector has no output
    series — not one ``{value: null}`` (or ``0`` for count) row."""
    sensors, vals = frames
    q = parse_extended_expr(expr, now=NOW)
    run = evaluate_binary if isinstance(q, BinaryQuery) else evaluate_extended
    assert run(sensors, vals, q).collect() == []

