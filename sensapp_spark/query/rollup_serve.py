"""Serve range queries from the maintained continuous aggregate.

The reference re-aggregates raw rows for every dashboard query
(src/storage/*/queries re-scan per call); its ClickHouse backend keeps
AggregatingMergeTree materialized views precisely to avoid that
(src/storage/clickhouse/migrations/20240223133248_init.sql:133-146).
This module is the Spark-side analogue's QUERY path: when a range
query's window arithmetic is grain-compatible with a maintained
RollupStore, ``/api/v1/query_range`` (and ``/api/v1/query?extended=1``,
the same handler on a one-step grid) folds the answer from rollup
buckets instead of re-scanning raw samples — measured 5.4× less IO at
10× (BASELINE.md), and the gap is the table-to-rollup size ratio, so
it widens with scale.

Exactness, not approximation: the engine's range windows are CLOSED
``[t−R, t]`` (Q5 semantics) while rollup buckets are half-open
``[b, b+g)``. A closed window folds exactly from half-open buckets as

    window(t) = fold(buckets [t−R, t−g]) ⊕ edge-stats(bucket t)

where the edge quartet (``ecnt/esum/emin/emax`` — samples at exactly
the bucket's left boundary) is maintained in the rollup row for this
purpose (storage/rollup.py). Serveability is therefore a pure
plan-time window-arithmetic check — R, step, start−offset all
multiples of the grain — and the served result is hash-identical to
the raw path, letting the HTTP route auto-route with zero semantic
drift and an honest fallback to raw for everything else.

Plan shape: rollup buckets explode to the step indices whose window
covers them (fan-out R/g per bucket — the bucket-level analogue of
evaluate_range's sample explode, over ~samples/bucket fewer rows),
union the boundary-edge rows, then ONE groupBy (sensor, step) with
map-side partials. The tail (label joins, aggregations, post-ops)
reuses promql_ext._finish_range verbatim, so everything above the
per-series window reduction behaves identically by construction.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.datamodel.types import SensorType
from sensapp_spark.operators.selection import select_sensors
from sensapp_spark.query.promql_ext import (
    _epoch_us,
    _finish_range,
    _Grid,
    _offset_us,
    evaluate_at_anchor,
)
from sensapp_spark.storage.qrollup import QuantileRollupStore
from sensapp_spark.storage.rollup import RollupStore

__all__ = [
    "ROLLUP_SERVE_FUNCS",
    "QUANTILE_SERVE_FUNCS",
    "SERVE_MIN_SCHEMA",
    "min_schema_for",
    "rollup_serveable",
    "rollup_serveable_instant",
    "quantile_rollup_serveable",
    "range_windows",
    "quantile_windows",
    "evaluate_range_rollup",
    "evaluate_instant_rollup",
    "maintained_grains",
]

# The per-series window reductions the maintained row answers, each
# with the MINIMUM rollup row-schema version whose columns its fold
# reads (storage/rollup.py committed_schema; the route falls back to
# raw below the minimum instead of folding nulls or stale semantics):
#
# * 1 — vsum/vmin/vmax only. sum/min/max_over_time: null-ignoring
#   F.sum/min/max semantics are identical across every schema.
# * 2 — cnt became null-ignoring count(value) (a schema-1 cnt is
#   count(*), which diverges from the raw path on null-valued samples
#   — round-12 advisor), the first/last quartet (rise family,
#   last_over_time, timestamp; a plain selector range query — func
#   None — is per-step last-sample, the same fold), and the Σv² moment
#   (the deviation pair).
# * 3 — (round 13) nrows/enrows (raw row counts — the null-sample-
#   exact empty-window guard), the nresets/nchanges counters + endv
#   (resets()/changes()), and the second-to-last sample tprev/vprev +
#   evprev (irate/idelta).
#
# Null-sample caveat (samples with a NULL value are an intentional
# extension — storage/lake.py append_values): below schema 3 the
# empty-window guard counts non-null samples, so a window holding
# ONLY null-valued samples is absent from served results where the
# raw path emits its row (null- or 1.0-valued). Schema-3 rows carry
# raw row counts and the guard switches to them (range_windows), so
# an upgraded table serves null data exactly.
#
# Exact to the raw path up to summation-order ULPs on the folded sums
# (the min/max/first/last/rise/resets families are bit-equal); exact
# quantiles are not mergeable and honestly fall back to raw (the
# OPT-IN approximate path is the bottom-k value-sample sketch,
# storage/qrollup.py).
SERVE_MIN_SCHEMA = {
    "sum_over_time": 1,
    "min_over_time": 1,
    "max_over_time": 1,
    "count_over_time": 2,
    "avg_over_time": 2,
    "present_over_time": 2,
    None: 2,
    "last_over_time": 2,
    "rate": 2,
    "increase": 2,
    "delta": 2,
    "stddev_over_time": 2,
    "stdvar_over_time": 2,
    "timestamp": 2,
    "resets": 3,
    "changes": 3,
    "irate": 3,
    "idelta": 3,
}

ROLLUP_SERVE_FUNCS = frozenset(SERVE_MIN_SCHEMA)

# The window functions the bottom-k sample rollup (storage/qrollup.py)
# APPROXIMATES — served only behind the user's explicit opt-in.
QUANTILE_SERVE_FUNCS = frozenset(["quantile_over_time", "mad_over_time"])


def min_schema_for(func) -> int:
    """The minimum committed rollup schema version that serves
    ``func`` exactly (∞-like large for unservable funcs — callers
    check membership in ROLLUP_SERVE_FUNCS first)."""
    return SERVE_MIN_SCHEMA.get(func, 10**9)


def _window_aligned(
    eq,
    grain_s: int,
    start: dt.datetime,
    step_seconds: float,
    now: dt.datetime | None,
    end: dt.datetime | None,
) -> bool:
    """True iff every window of ``eq`` over the steps ``[start, end]``
    (``end`` None: a multi-step grid) folds from whole ``grain_s``
    buckets — the alignment rule both rollup stores serve under. The
    shape is one plain selector window (no constant, subquery,
    histogram, sort or series-post — anything else falls back to the
    raw path, which evaluates it or raises its own didactic error), and
    R, start − offset and, on a multi-step grid, the step are multiples
    of the grain. A fixed ``@`` is checked as the one-step grid at its
    anchor, the answer that repeats at every step
    (promql_ext.evaluate_at_anchor); a one-step grid has no step to
    align."""
    if (
        eq is None
        or getattr(eq, "selector", None) is None
        or eq.const is not None
        or eq.sub_inner is not None
        or eq.sort is not None
        or eq.hist_quantile is not None
        or eq.hist_fraction is not None
        or eq.series_post
    ):
        return False
    if eq.at_fixed:
        start = end = now = eq.selector.end_time
        eq = dataclasses.replace(eq, at_fixed=False)
    g_us = grain_s * 1_000_000
    r_us = int(
        (eq.selector.end_time - eq.selector.start_time).total_seconds()
        * 1_000_000
    )
    one_step = (
        end is not None and _Grid.of(start, end, step_seconds).n_steps == 0
    )
    return (
        r_us > 0
        and r_us % g_us == 0
        and (one_step or int(step_seconds * 1_000_000) % g_us == 0)
        and (_epoch_us(start) - _offset_us(eq, now)) % g_us == 0
    )


def rollup_serveable(
    eq,
    grain_s: int,
    start: dt.datetime,
    step_seconds: float,
    now: dt.datetime | None = None,
    end: dt.datetime | None = None,
) -> bool:
    """True iff ``eq`` evaluated at steps ``start + i·step`` (up to
    ``end``, when given) folds EXACTLY from a grain_s rollup: a
    quartet-expressible range function (aggregations/post-ops on top
    are fine — they apply to per-series per-step values either way)
    whose windows are grain-aligned (:func:`_window_aligned`)."""
    return getattr(eq, "func", None) in ROLLUP_SERVE_FUNCS and (
        _window_aligned(eq, grain_s, start, step_seconds, now, end)
    )


# Logical window-stat columns → (full-bucket expr, edge expr, merge).
# Built lazily inside range_windows (Column construction needs an
# active session); the edge first/last structs carry the BOUNDARY
# instant with emin/emax — edge samples all share that instant, so
# under struct(time, value) ordering those ARE their first/last.
# ``seq`` and ``last2`` are ORDERED stats (round 13): their merge is a
# sorted collect_list of per-bucket structs — bounded by W/grain
# entries per window, never by samples — because resets/changes need
# bucket ADJACENCY (a commutative scalar merge cannot see it) and
# irate/idelta need the top-2 samples across buckets.
_STAT_COLS = (
    "cnt", "vsum", "vmin", "vmax", "first", "last", "vsum2",
    "nrows", "seq", "last2",
)


def _needed_stats(func: str | None) -> frozenset:
    """The window stats ``func``'s fold actually reads — the explode
    carries ONLY these (plus nrows for the empty-window guard).
    Carrying the full row measured ~4× slower on a sparse 1M-bucket
    corpus for a plain sum fold: the fan-out multiplies every byte."""
    need = {
        "sum_over_time": {"vsum"},
        "count_over_time": {"cnt"},
        "min_over_time": {"vmin"},
        "max_over_time": {"vmax"},
        "avg_over_time": {"vsum", "cnt"},
        "stdvar_over_time": {"vsum", "vsum2", "cnt"},
        "stddev_over_time": {"vsum", "vsum2", "cnt"},
        "present_over_time": set(),
        "timestamp": {"last"},
        None: {"last"},
        "last_over_time": {"last"},
        "rate": {"first", "last"},
        "increase": {"first", "last"},
        "delta": {"first", "last"},
        "resets": {"seq"},
        "changes": {"seq"},
        "irate": {"last2"},
        "idelta": {"last2"},
    }[func]
    return frozenset(need | {"nrows"})


def _bucket_windows(
    store: RollupStore,
    stype: SensorType,
    start: dt.datetime,
    end: dt.datetime,
    step_seconds: float,
    window_seconds: float,
    offset_us: int,
    sensor_ids: DataFrame | None,
    realtime: bool,
    stats: list,
    edge_if: F.Column,
) -> DataFrame:
    """The one bucket fan-out both rollup stores serve through: for
    each step t_i = start + i·step in [start, end], fold the buckets
    of the closed window [t_i − offset − W, t_i − offset] into
    ``(sensor_id, __i, <stats>)``. ``stats`` lists ``(name, full,
    edge, merge)``: the column a bucket lying wholly inside a window
    contributes, the column the window's boundary bucket contributes
    (its samples at exactly the boundary instant, kept where
    ``edge_if`` holds), and the aggregate that merges them.

    W and start − offset must be multiples of the grain, and so must
    the step on a multi-step grid (a one-step grid has no step to
    align — :func:`_window_aligned`, the caller's check); this
    asserts it. ``realtime`` reads rollup ∪ recomputed live tail —
    exact even against rows the maintainer has not refreshed yet.
    ``sensor_ids`` (a 1-column DataFrame) semi-joins BEFORE the step
    explode so an over-selective matcher prunes the fan-out, not just
    the output."""
    grid = _Grid.of(start, end, step_seconds)
    g_us = store.grain_s * 1_000_000
    r_us = int(window_seconds * 1_000_000)
    lo_us = grid.start_us - offset_us
    if r_us % g_us or lo_us % g_us or (grid.n_steps and grid.s_us % g_us):
        raise ValueError(
            "rollup-served windows need W, start-offset and (on a "
            "multi-step grid) the step to be multiples of the "
            f"{store.grain_s}s grain"
        )
    epoch = dt.datetime(1970, 1, 1)
    buckets = (store.read_realtime if realtime else store.read)(
        stype,
        epoch + dt.timedelta(microseconds=lo_us - r_us),
        epoch + dt.timedelta(microseconds=lo_us + grid.n_steps * grid.s_us),
    )
    if sensor_ids is not None:
        buckets = buckets.join(
            F.broadcast(sensor_ids), "sensor_id", "leftsemi"
        )
    # Shifted bucket clock: τ = bucket + offset, so step windows are
    # [t_i − W, t_i] on the τ axis with integer-µs arithmetic.
    tau = F.unix_micros("bucket") + F.lit(offset_us)
    # FULL contribution: bucket [τ, τ+g) ⊂ [t_i − W, t_i] ⟺ the
    # instant τ+g lies in [t_i − (W−g), t_i] — the grid's own sample
    # span of τ+g over windows of length W − g, i.e. steps
    # [ceil((τ+g−start)/s), floor((τ+W−start)/s)].
    i0, i1 = grid.step_span(tau + F.lit(g_us), r_us - g_us)
    full = (
        buckets.filter(i0 <= i1)
        .withColumn("__i", F.explode(F.sequence(i0, i1)))
        .select("sensor_id", "__i", *[f.alias(n) for n, f, _, _ in stats])
    )
    # EDGE contribution: the closed window's right endpoint t_i is the
    # LEFT boundary of bucket t_i — only that bucket's boundary-exact
    # samples are inside the window. Two branches scan the rollup
    # twice — measured FASTER than fusing them into a single
    # array-of-structs explode (columnar re-scans of a rollup-sized
    # table are cheap; wide struct-array construction is not: the
    # fused form doubled the served wall at 10×).
    d = tau - F.lit(grid.start_us)
    s_us = F.lit(grid.s_us)
    edge = buckets.filter(
        (d >= 0) & (d % s_us == 0) & (d / s_us <= grid.n_steps) & edge_if
    ).select(
        "sensor_id",
        (d / s_us).cast("long").alias("__i"),
        *[e.alias(n) for n, _, e, _ in stats],
    )
    return (
        full.unionByName(edge)
        .groupBy("sensor_id", "__i")
        .agg(*[m(n).alias(n) for n, _, _, m in stats])
    )


def range_windows(
    store: RollupStore,
    stype: SensorType,
    start: dt.datetime,
    end: dt.datetime,
    step_seconds: float,
    window_seconds: float,
    offset_us: int = 0,
    sensor_ids: DataFrame | None = None,
    realtime: bool = True,
    need: frozenset | None = None,
) -> DataFrame:
    """Per-(sensor, step) closed-window stats from quartet rollup
    buckets (:func:`_bucket_windows`): for each step t_i = start +
    i·step in [start, end], the samples in [t_i − offset − W, t_i −
    offset] as ``(sensor_id, __i, <stats>)``. <stats> is ``need``, a
    subset of ``_STAT_COLS`` (``cnt/vsum/vmin/vmax/first/last/vsum2``,
    the ordered ``seq``/``last2``, and ``nrows``); None = every scalar
    stat. ``nrows`` is always included: it is the empty-window guard.
    """
    if need is None:
        # Default: every SCALAR stat (the pre-round-13 full row). The
        # ordered array stats are collect_list merges — only built
        # when a fold explicitly asks for them.
        need = frozenset(_STAT_COLS) - {"seq", "last2"}
    else:
        need = frozenset(need) | {"nrows"}
    first_s = F.struct(F.col("tfirst").alias("t"),
                       F.col("vfirst").alias("v"))
    last_s = F.struct(F.col("tlast").alias("t"),
                      F.col("vlast").alias("v"))
    prev_s = F.when(
        F.col("tprev").isNotNull(),
        F.struct(F.col("tprev").alias("t"), F.col("vprev").alias("v")),
    )
    full_expr = {
        "cnt": F.col("cnt"),
        "vsum": F.col("vsum"),
        "vmin": F.col("vmin"),
        "vmax": F.col("vmax"),
        "first": first_s,
        "last": last_s,
        "vsum2": F.col("vsum2"),
        # Pre-v3 rows read nrows as null → the raw row count falls
        # back to the non-null sample count (the pre-round-13 guard),
        # so the serve fold needs no schema flag in-plan.
        "nrows": F.coalesce(F.col("nrows"), F.col("cnt")),
        "seq": F.struct(
            first_s.alias("first"),
            last_s.alias("last"),
            F.coalesce(F.col("nresets"), F.lit(0)).alias("nr"),
            F.coalesce(F.col("nchanges"), F.lit(0)).alias("nc"),
        ),
        "last2": F.struct(
            last_s.alias("last"), prev_s.alias("prev")
        ),
    }
    # Edge samples all share the boundary instant, so under
    # struct(time, value) ordering their first is (boundary, emin) and
    # their last is (boundary, emax) — the first/last fold needs no new
    # edge columns. Under the raw evaluator's (time, value) ordering
    # they are value-sorted, so resets within the group are 0
    # (ascending), changes are (#distinct values − 1), and the
    # second-to-last sample is the second-largest value (evprev).
    efirst_s = F.struct(F.col("bucket").alias("t"),
                        F.col("emin").alias("v"))
    elast_s = F.struct(F.col("bucket").alias("t"),
                       F.col("emax").alias("v"))
    eprev_s = F.when(
        F.col("ecnt") >= 2,
        F.struct(F.col("bucket").alias("t"),
                 F.col("evprev").alias("v")),
    )
    edge_expr = {
        "cnt": F.col("ecnt"),
        "vsum": F.col("esum"),
        "vmin": F.col("emin"),
        "vmax": F.col("emax"),
        "first": efirst_s,
        "last": elast_s,
        "vsum2": F.col("esum2"),
        "nrows": F.coalesce(F.col("enrows"), F.col("ecnt")),
        "seq": F.struct(
            efirst_s.alias("first"),
            elast_s.alias("last"),
            F.lit(0).cast("long").alias("nr"),
            F.greatest(
                F.lit(0).cast("long"),
                F.coalesce(F.col("endv"), F.lit(1)) - 1,
            ).alias("nc"),
        ),
        "last2": F.struct(
            elast_s.alias("last"), eprev_s.alias("prev")
        ),
    }
    merge = {
        "cnt": F.sum, "vsum": F.sum, "vmin": F.min, "vmax": F.max,
        "first": F.min, "last": F.max, "vsum2": F.sum,
        "nrows": F.sum,
        # Ordered merges: temporally sorted (buckets are time-disjoint
        # and the outer struct sorts on its first field — `first`
        # resp. `last`), W/grain-bounded per window.
        "seq": lambda c: F.sort_array(F.collect_list(c)),
        "last2": lambda c: F.reverse(F.sort_array(F.collect_list(c))),
    }
    win = _bucket_windows(
        store, stype, start, end, step_seconds, window_seconds,
        offset_us, sensor_ids, realtime,
        [(c, full_expr[c], edge_expr[c], merge[c])
         for c in _STAT_COLS if c in need],
        # coalesce: a v3 row counts null-valued boundary samples too
        # (enrows), so a window whose only content is a null sample at
        # the boundary still produces its row — matching the raw path;
        # pre-v3 rows keep the non-null-count guard they were built
        # under.
        edge_if=F.coalesce(F.col("enrows"), F.col("ecnt")) > 0,
    )
    # A window no sample falls in produces NO row (PromQL): every
    # contributing bucket row carries nrows ≥ 1, so this only guards
    # degenerate unions.
    return win.filter(F.col("nrows") > 0)


def _interp_quantile(vs: F.Column, phi: float) -> F.Column:
    """Linearly-interpolated φ-quantile of a SORTED double array —
    the Prometheus quantile / DuckDB ``quantile_cont`` formula
    (rank = φ·(n−1), interpolate between the straddling order
    statistics)."""
    n = F.size(vs)
    rank = F.lit(float(phi)) * (n - 1).cast("double")
    lo = F.floor(rank).cast("int")
    vlo = F.try_element_at(vs, lo + 1)
    vhi = F.try_element_at(vs, lo + 2)
    frac = rank - lo.cast("double")
    return F.when(frac > 0, vlo + (F.coalesce(vhi, vlo) - vlo) * frac) \
        .otherwise(vlo)


def quantile_windows(
    store: QuantileRollupStore,
    stype: SensorType,
    start: dt.datetime,
    end: dt.datetime,
    step_seconds: float,
    window_seconds: float,
    phi: float,
    offset_us: int = 0,
    sensor_ids: DataFrame | None = None,
    realtime: bool = True,
    stat: str = "quantile",
) -> DataFrame:
    """Per-(sensor, step) approximate φ-quantiles over closed windows
    [t_i − offset − W, t_i − offset] from bottom-k sample buckets
    (:func:`_bucket_windows`, storage/qrollup.py): merge the covered
    buckets' samples ``qs`` (plus the boundary bucket's edge sample
    ``eqs``), keep the K smallest (h, v) pairs, interpolate — the
    fan-out is W/grain per bucket over ≤K-element arrays.

    ``stat="mad"`` estimates the median absolute deviation instead
    (median(|v − median|), both medians linearly interpolated over
    the SAME merged sample — exactly the raw evaluator's
    mad_over_time formula applied to the sample; φ is ignored)."""
    merged = _bucket_windows(
        store, stype, start, end, step_seconds, window_seconds,
        offset_us, sensor_ids, realtime,
        [("sample", F.col("qs"), F.col("eqs"),
          lambda c: F.slice(
              F.array_sort(F.flatten(F.collect_list(c))), 1, store.K
          ))],
        edge_if=F.size("eqs") > 0,
    )
    vs = F.array_sort(F.transform(F.col("sample"), lambda x: x["v"]))
    if stat == "mad":
        med = _interp_quantile(vs, 0.5)
        dev = F.array_sort(
            F.transform(vs, lambda x: F.abs(x - med))
        )
        value = _interp_quantile(dev, 0.5)
    else:
        value = _interp_quantile(vs, phi)
    return merged.select("sensor_id", "__i", value.alias("value"))


def _func_value(func: str | None):
    """The quartet expression for one served window reduction, plus an
    optional row filter (built lazily — Column construction needs an
    active session). The rise family mirrors
    promql_ext._per_series_agg exactly: rise = last.v − first.v, span
    in seconds, single-sample (span == 0) windows DROP — the when()
    guard keeps ANSI mode from throwing on the 0-span division before
    the filter applies."""
    # Population variance from the mergeable moments (Σv²/n − μ²) —
    # clamped at 0: the subtraction can go ULP-negative where the true
    # variance is ~0, and Prometheus returns 0 there, not a NaN sqrt.
    mean = F.col("vsum") / F.col("cnt")
    pvar = F.greatest(
        F.lit(0.0), F.col("vsum2") / F.col("cnt") - mean * mean
    )
    simple = {
        "sum_over_time": F.col("vsum"),
        "count_over_time": F.col("cnt").cast("double"),
        "min_over_time": F.col("vmin"),
        "max_over_time": F.col("vmax"),
        "avg_over_time": F.col("vsum") / F.col("cnt"),
        "stdvar_over_time": pvar,
        "stddev_over_time": F.sqrt(pvar),
        # present: any window that produced a row has >= 1 sample.
        "present_over_time": F.lit(1.0),
    }
    if func in simple:
        return simple[func], None
    if func in ("resets", "changes"):
        # The ordered fold: Σ within-bucket counters + one boundary
        # term per ADJACENT bucket pair (previous bucket's last sample
        # against the next one's first — exactly the raw evaluator's
        # lag pair at the bucket crossing, promql_ext:1914). ``seq``
        # is already time-sorted; W/grain entries per window, pure
        # array HOFs, no Python. coalesce: null-valued boundary
        # samples compare to null and contribute 0, the raw fold's
        # null-skipping sum.
        seq = F.col("seq")
        n = F.size(seq)
        inner = F.aggregate(
            seq,
            F.lit(0).cast("long"),
            lambda a, x: a + x["nr" if func == "resets" else "nc"],
        )

        def hit(a, b):
            cmp = (
                b["first"]["v"] < a["last"]["v"]
                if func == "resets"
                else b["first"]["v"] != a["last"]["v"]
            )
            return F.coalesce(cmp.cast("long"), F.lit(0))

        boundary = F.aggregate(
            F.zip_with(F.slice(seq, 1, n - 1), F.slice(seq, 2, n - 1),
                       hit),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        return (inner + boundary).cast("double"), None
    if func in ("irate", "idelta"):
        # The window's last two samples from the per-bucket (last,
        # prev) structs, sorted desc by last: the latest bucket holds
        # the last sample; the second-to-last is that bucket's own
        # prev, or — when it held a single sample — the next-latest
        # bucket's last. Counter-reset handling and the span-0 drop
        # mirror promql_ext._per_series_agg's top-2 fold exactly.
        arr = F.col("last2")
        # try_element_at: NULL past the end (ANSI element_at throws
        # on single-bucket windows).
        e1 = F.try_element_at(arr, F.lit(1))
        e2 = F.try_element_at(arr, F.lit(2))
        last_s = e1["last"]
        prev_s = F.coalesce(e1["prev"], e2["last"])
        span = (
            F.unix_micros(last_s["t"]) - F.unix_micros(prev_s["t"])
        ) / 1e6
        keep = prev_s.isNotNull() & (span > 0)
        if func == "irate":
            rise = F.when(
                last_s["v"] < prev_s["v"], last_s["v"]
            ).otherwise(last_s["v"] - prev_s["v"])
            return F.when(keep, rise / span), keep
        return last_s["v"] - prev_s["v"], keep
    first, last = F.col("first"), F.col("last")
    if func in (None, "last_over_time"):
        return last["v"], None
    if func == "timestamp":
        # Last sample's epoch seconds (µs fraction preserved) — the
        # same arithmetic as the raw path's max(unix_micros)/1e6,
        # bit-equal.
        return F.unix_micros(last["t"]) / 1e6, None
    span = (F.unix_micros(last["t"]) - F.unix_micros(first["t"])) / 1e6
    rise = last["v"] - first["v"]
    if func == "rate":
        return F.when(span > 0, rise / span), span > 0
    return rise, span > 0  # increase / delta


def _served_window_values(
    pairs, eq, selected, start, end, step_seconds, offset_us, realtime
) -> DataFrame:
    """Per-(sensor, __i) served values unioned across one or more
    (store, stype) pairs: folded from the quartet rollup, or — for
    ``quantile_over_time``/``mad_over_time`` over a bottom-k sample
    rollup — estimated from the merged sample
    (:func:`quantile_windows`). A sensor has exactly one type, so the
    union never collides; it happens BEFORE the shared tail so
    aggregations (sum over a mixed Integer/Float fleet) group across
    types exactly like the raw path's pre-aggregation union."""
    q = eq.selector
    window_s = (q.end_time - q.start_time).total_seconds()
    quantile = eq.func in QUANTILE_SERVE_FUNCS
    if not quantile:
        value, keep = _func_value(eq.func)
        need = _needed_stats(eq.func)
    mad = eq.func == "mad_over_time"
    out = None
    for store, stype in pairs:
        if quantile:
            frame = quantile_windows(
                store, stype, start, end, step_seconds, window_s,
                phi=0.5 if mad else float(eq.func_param),
                offset_us=offset_us,
                sensor_ids=selected.select("sensor_id"),
                realtime=realtime,
                stat="mad" if mad else "quantile",
            )
        else:
            win = range_windows(
                store,
                stype,
                start,
                end,
                step_seconds,
                window_s,
                offset_us=offset_us,
                sensor_ids=selected.select("sensor_id"),
                realtime=realtime,
                need=need,
            )
            if keep is not None:
                win = win.filter(keep)
            frame = win.select("sensor_id", "__i", value.alias("value"))
        out = frame if out is None else out.unionByName(frame)
    return out


def evaluate_range_rollup(
    store: RollupStore,
    sensors: DataFrame,
    eq,
    start: dt.datetime,
    end: dt.datetime,
    step_seconds: float,
    now: dt.datetime | None = None,
    stype: SensorType = SensorType.FLOAT,
    realtime: bool = True,
    extra: tuple = (),
) -> DataFrame:
    """promql_ext.evaluate_range, served from the rollup: same output
    frame, same tail (_finish_range — label ops, aggregations,
    topk/bottomk, post functions apply identically), but the scan reads
    rollup buckets instead of raw samples. A fixed ``@`` evaluates once
    at its anchor and repeats, as the raw path does. Caller must have
    checked :func:`rollup_serveable` (per store for grain, per type for
    schema) — or, for ``quantile_over_time``/``mad_over_time`` over
    QuantileRollupStores, :func:`quantile_rollup_serveable` AND the
    user's explicit opt-in: those values are APPROXIMATE (exact when a
    window holds ≤ K samples). ``extra`` is additional (store, stype) pairs for
    multi-numeric-type fleets — their per-window values union with the
    primary's BEFORE the tail (the Integer/Numeric→f64 semantics of
    exporters/prometheus_read.py:36-68, served)."""
    grid = _Grid.of(start, end, step_seconds)
    if eq.at_fixed:
        return evaluate_at_anchor(
            eq, grid,
            lambda e, at: evaluate_range_rollup(
                store, sensors, e, at, at, step_seconds, now=at,
                stype=stype, realtime=realtime, extra=extra,
            ),
        )
    off_us = _offset_us(eq, now)
    selected = select_sensors(sensors, eq.selector.matchers)
    win = _served_window_values(
        [(store, stype), *extra], eq, selected,
        start, end, step_seconds, off_us, realtime,
    )
    out = win.join(
        F.broadcast(selected.select("sensor_id", "name", "labels")),
        "sensor_id",
    )
    return _finish_range(out, eq, grid)


def rollup_serveable_instant(eq, grain_s: int) -> bool:
    """True iff the INSTANT evaluation of ``eq`` folds exactly from a
    grain_s rollup: :func:`rollup_serveable` on the one-step grid at
    the parse anchor ``eq.eval_at``. Unanchored instant queries (the
    window ends at wall-clock now) essentially never align; the
    anchored dashboards ('@ <ts>', the replay/report shape) are the
    ones this serves."""
    at = getattr(eq, "eval_at", None)
    return rollup_serveable(eq, grain_s, at, 1.0, now=at, end=at)


def evaluate_instant_rollup(
    store: RollupStore,
    sensors: DataFrame,
    eq,
    stype: SensorType = SensorType.FLOAT,
    realtime: bool = True,
    extra: tuple = (),
) -> DataFrame:
    """promql_ext.evaluate_extended, served from the rollup:
    :func:`evaluate_range_rollup` on the one-step grid at the parse
    anchor ``eq.eval_at``, with the step column dropped. Caller must
    have checked :func:`rollup_serveable_instant`."""
    at = eq.eval_at
    return evaluate_range_rollup(
        store, sensors, eq, at, at, 1.0, now=at, stype=stype,
        realtime=realtime, extra=extra,
    ).drop("t")


def maintained_grains(
    lake,
    stype: SensorType = SensorType.FLOAT,
    sketch: bool = False,
    quantile: bool = False,
) -> list[int]:
    """The grains (seconds, descending) with a COMMITTED rollup for
    ``stype`` under this lake — one listdir + one commit-log
    read per candidate, no Spark jobs. Descending so the first
    serveable grain is the coarsest (fewest bucket rows scanned).
    ``sketch=True`` lists the bucket-keyed KMV/CMS sketch rollups
    instead (the /rollup/distinct fold=auto discovery);
    ``quantile=True`` the bottom-k value-sample rollups
    (storage/qrollup.py — the opt-in approximate quantile path)."""
    import os
    import re as _re

    from sensapp_spark.storage.lake import resolve_table
    from sensapp_spark.storage.logstore import S3LogStore, get_store

    if isinstance(get_store(), S3LogStore):
        # Discovery below walks the lake root with os.listdir — on an
        # object-store lake that would silently report "no maintained
        # grains" and disable rollup serving forever (round-12
        # verdict, missing #5). Fail loudly until a LIST-based
        # discovery ships with the real S3 backend.
        raise NotImplementedError(
            "maintained_grains walks the POSIX filesystem; rollup "
            "discovery on an S3-backed lake needs the object-store "
            "LIST path (not implemented — serve with rollup=0 or run "
            "the gateway against a POSIX lake root)."
        )
    root = os.path.join(lake.root, "_rollups")
    try:
        entries = os.listdir(root)
    except OSError:
        return []
    infix = "quantile_" if quantile else ("sketch_" if sketch else "")
    pat = _re.compile(rf"^{stype.name.lower()}_{infix}(\d+)s$")
    grains = []
    for name in entries:
        m = pat.match(name)
        if m and resolve_table(os.path.join(root, name)) is not None:
            grains.append(int(m.group(1)))
    return sorted(grains, reverse=True)


def quantile_rollup_serveable(
    eq,
    grain_s: int,
    start: dt.datetime,
    step_seconds: float,
    now: dt.datetime | None = None,
    end: dt.datetime | None = None,
) -> bool:
    """True iff ``eq`` is a ``quantile_over_time(φ, m[W])`` or
    ``mad_over_time(m[W])`` range evaluation the bottom-k sample
    rollup can APPROXIMATE: the window alignment of
    :func:`rollup_serveable` (:func:`_window_aligned`), φ within
    [0, 1] (Prometheus maps outside-φ to ±Inf — that stays on the raw
    path). The caller must ALSO have the user's explicit ?approx=1 —
    approximation is never silently substituted."""
    func = getattr(eq, "func", None)
    if func not in QUANTILE_SERVE_FUNCS or (
        func == "quantile_over_time"
        and (eq.func_param is None or not 0.0 <= float(eq.func_param) <= 1.0)
    ):
        return False
    return _window_aligned(eq, grain_s, start, step_seconds, now, end)
