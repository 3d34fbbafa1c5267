"""Extended PromQL evaluation — the expression classes the reference
REJECTS (src/ingestors/http/simple_promql.rs:149-171), implemented as
DataFrame plans behind an explicit opt-in.

The base parser (query/promql.py) reproduces the reference's rejection
matrix byte-for-byte and stays the default. This module adds what
SURVEY §2.8 lists as the "free wins": range functions
(``rate(m[5m])``, ``increase``, ``delta``, ``*_over_time`` incl.
parametric ``quantile_over_time(φ, m[5m])``), aggregation operators
(``sum/avg/min/max/count/stddev/stdvar/quantile/topk/bottomk``, with
``by (label,…)`` / ``without (label,…)`` grouping in either PromQL
position), the ``offset <duration>`` and ``@ <unix-seconds>`` selector
modifiers, **binary operations** between vector expressions
(arithmetic, comparison with/without ``bool``, the ``and/or/unless``
set operators, ``scalar(expr)``, numeric-literal and
globally-aggregated (``sum(a) / sum(b)``) operands, ``on``/
``ignoring`` matching with ``group_left``/``group_right``, and —
round 11 — ONE nested binary operand with Prometheus precedence and
associativity: ``(a / b) > 0.5``, ``a / b / c``,
``sum(a) / (sum(b) + sum(c))``), and one level of **subquery**
(``expr[range:step]``, with its own trailing ``@``/offset). A fixed
``@`` anchor makes an expression constant across a range query's steps
(Prometheus semantics). The remaining didactic rejections are the
genuinely rare tail: 4+-level aggregation nesting, 2+-level binary
nesting, by/without-grouped binary operands, nested subqueries, and
``@`` inside a subquery; those raise the didactic ``PromQLError``
naming the construct.

Evaluation shapes. There is ONE evaluator, the range evaluator
(:func:`evaluate_range` / :func:`evaluate_range_binary`). An instant
query is a one-step range query at its evaluation instant ``T`` (the
parse anchor, recorded as ``eval_at``) with the step column dropped —
Prometheus evaluates instant queries the same way (promql/engine.go
``execEvalStmt``: start = end = T, one step). All single-shuffle,
map-side partial aggregates:

* range function → each sample joins the steps whose window
  ``[t − R, t]`` covers it (a bounded explode; a one-step grid is a
  plain window filter), then ``groupBy(sensor_id, step)``;
  ``rate``/``increase`` take the first/last sample, the
  ``*_over_time`` family maps to the matching Spark aggregate.
* instant selector → last sample per (series, step).
* aggregation → second ``groupBy`` over ``element_at(labels, k)`` keys
  and the step — by then the frame is one row per *series* and step,
  so this shuffle is dimension-sized, not sample-sized. ``without``
  groups on the canonical string of the remaining label set (Spark
  cannot group by a MAP column directly). Grouping by the step means
  an aggregate over an empty vector is an empty vector.
* ``topk``/``bottomk`` → row_number window per step over the
  per-series vector (dimension-sized), not a scale hazard.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import math
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sensapp_spark.operators.selection import select_sensors, time_range
from sensapp_spark.query.promql import (
    _DUR_MS,
    _DURATION_RE,
    ParsedQuery,
    PromQLError,
    _Scanner,
    parse_promql_query,
)

RANGE_FUNCS = frozenset(
    "rate increase delta irate idelta changes resets deriv predict_linear "
    "avg_over_time sum_over_time min_over_time "
    "max_over_time count_over_time last_over_time quantile_over_time "
    "stddev_over_time stdvar_over_time present_over_time "
    "mad_over_time holt_winters double_exponential_smoothing".split()
)
# Instant-vector functions (argument is an instant selector, not a range).
INSTANT_FUNCS = frozenset(["timestamp"])
# Absence probes: a 1-element vector IFF the selector matches no
# samples in its window (the alerting primitive `absent(up{job="x"})`).
ABSENT_FUNCS = frozenset(["absent", "absent_over_time"])
# Range functions taking a scalar SECOND argument.
TAIL_PARAM_RANGE_FUNCS = frozenset(["predict_linear"])
# Range functions taking TWO scalar trailing arguments (smoothing /
# trend factors — `holt_winters(m[1h], 0.5, 0.1)`; Prometheus 3.x
# renames it double_exponential_smoothing, both spellings accepted).
TAIL2_PARAM_RANGE_FUNCS = frozenset(
    ["holt_winters", "double_exponential_smoothing"]
)
AGG_OPS = frozenset(
    "sum avg min max count group count_values stddev stdvar quantile "
    "topk bottomk limitk limit_ratio".split()
)
# Aggregations / range functions taking a scalar first argument.
PARAM_AGGS = frozenset("quantile topk bottomk limitk limit_ratio".split())
# Series SAMPLERS (Prometheus experimental limitk/limit_ratio): keep a
# deterministic subset of series per group. Prometheus' selection hash
# is unspecified for clients; this engine documents its own — the md5
# hex digest of the series identity (sensor_id), which any SQL engine
# reproduces bit-identically (see _evaluate_limit_agg).
LIMIT_AGGS = frozenset(["limitk", "limit_ratio"])
PARAM_FUNCS = frozenset(["quantile_over_time"])
# Element-wise functions over an instant vector's values, applied after
# any aggregation. TAIL_PARAM ones take a scalar SECOND argument.
SCALAR_FUNCS = frozenset(
    "abs ceil floor round sqrt exp ln log2 log10 sgn clamp_min "
    "clamp_max clamp "
    "sin cos tan asin acos atan sinh cosh tanh asinh acosh atanh "
    "deg rad".split()
)
TAIL_PARAM_FUNCS = frozenset("round clamp_min clamp_max".split())
# Element-wise functions taking TWO scalar trailing arguments:
# `clamp(v, min, max)`. Prometheus: min > max yields an EMPTY vector.
TAIL2_PARAM_FUNCS = frozenset(["clamp"])
# Label-manipulation functions over the series vector (applied before
# any enclosing aggregation, so `sum by (dst) (label_replace(...))`
# groups on the rewritten label).
LABEL_FUNCS = frozenset(["label_replace", "label_join"])
# Calendar functions over a vector of epoch-second values (Prometheus:
# argument defaults to vector(time())). Element-wise — they ride the
# same post-function machinery as abs/ceil/…, each a JVM expression
# over timestamp_seconds(value).
DATE_FUNCS = frozenset(
    "minute hour day_of_week day_of_month day_of_year month year "
    "days_in_month".split()
)
# Presentation-level ordering of the final instant vector.
SORT_FUNCS = frozenset(["sort", "sort_desc"])
# Order by LABEL VALUES instead of sample values (Prometheus
# experimental sort_by_label/sort_by_label_desc) — series-shaped
# results only, lexicographic on each given label in turn.
SORT_LABEL_FUNCS = frozenset(["sort_by_label", "sort_by_label_desc"])

_NAME_RE = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")
# expr[<range>:<step>] — the colon is what distinguishes a subquery
# from a plain matrix selector, so m[5m] never matches here.
_SUBQUERY_RE = re.compile(
    r"(?P<body>.*\S)\s*\["
    r"(?P<rng>(?:[0-9]+(?:\.[0-9]+)?(?:ms|s|m|h|d|w|y))+):"
    r"(?P<step>(?:[0-9]+(?:\.[0-9]+)?(?:ms|s|m|h|d|w|y))+)?\]",
    re.S,
)


def _dur_seconds(text: str) -> float:
    """Seconds of a (possibly compound) PromQL duration like 1h30m."""
    return sum(
        float(m.group(1)) * _DUR_MS[m.group(2)]
        for m in _DURATION_RE.finditer(text)
    ) / 1000.0
_PARAM_RE = re.compile(r"\s*([0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)\s*,")
_OFFSET_RE = re.compile(
    r"^(?P<body>.*?)\s+offset\s+(?P<dur>(?:[0-9]+(?:\.[0-9]+)?"
    r"(?:ms|s|m|h|d|w|y))+)\s*$",
    re.S,
)


@dataclass
class ExtendedQuery:
    # None for constant vectors (vector(1), time(), hour() with the
    # default argument) — eq.const carries the value instead.
    selector: ParsedQuery | None
    func: str | None = None
    agg: str | None = None
    by: list[str] = field(default_factory=list)
    without: list[str] = field(default_factory=list)
    param: float | None = None
    func_param: float | None = None
    # count_values' label name (the grouping key column of the output).
    label_param: str | None = None
    # Element-wise post-functions, innermost first: [("abs", None),
    # ("clamp_max", 10.0)] for clamp_max(abs(x), 10).
    post: list[tuple[str, float | None]] = field(default_factory=list)
    # Element-wise functions INSIDE an aggregation — sum(abs(x)) —
    # applied to the per-series vector before the aggregate.
    series_post: list[tuple[str, float | None]] = field(default_factory=list)
    # Label rewrites, innermost first: ("label_replace", (dst, repl,
    # src, regex)) / ("label_join", (dst, sep, src1, src2, …)).
    label_ops: list[tuple[str, tuple]] = field(default_factory=list)
    # histogram_quantile(φ, …) wrapping this vector: the φ, or None.
    hist_quantile: float | None = None
    # histogram_fraction(lower, upper, …) wrapping this vector: the
    # (lower, upper) bounds, or None. Mutually exclusive with
    # hist_quantile (both consume a le-bucket vector).
    hist_fraction: tuple[float, float] | None = None
    # Post-functions that were applied INSIDE histogram_quantile's
    # argument (to the bucket values) — kept apart from ``post`` so
    # functions wrapping the quantile can never leak onto the counts.
    hist_inner_post: list[tuple[str, float | None]] = field(
        default_factory=list
    )
    # Subquery: eq.func is the OUTER range function, evaluated over the
    # inner expression's [range:step] step samples ending at sub_eval.
    sub_inner: "ExtendedQuery | None" = None
    sub_range_s: float | None = None
    sub_step_s: float | None = None
    sub_eval: dt.datetime | None = None
    # The subquery's own trailing `offset` (seconds), also folded into
    # sub_eval. Range evaluation shifts the subquery's step grid back
    # by it, so every step T evaluates the inner grid ending at T − o.
    sub_offset_s: float = 0.0
    # sort()/sort_desc() wrapping the whole expression: "asc"/"desc".
    sort: str | None = None
    # sort_by_label(_desc)(expr, "l1", …): the label names to order by
    # (lexicographic, each in turn); empty = order by value (plain
    # sort()/sort_desc()). Direction rides ``sort``.
    sort_labels: list[str] = field(default_factory=list)
    # Constant 1-element vector (vector(1) / time() / date funcs'
    # default argument): the value; selector is None.
    const: float | None = None
    # The const came from time() (directly, via vector(time()), or as
    # a date function's default argument). ``const`` holds the parse
    # anchor, but Prometheus evaluates time() at each step, so
    # _const_range_vector emits the step timestamp instead (for an
    # instant query the one step IS the parse anchor).
    const_is_time: bool = False
    # The selector (or subquery) carried an absolute `@ <ts>` anchor:
    # its window does not slide with the steps. Range evaluation
    # evaluates it once, as a one-step grid at the anchor, and repeats
    # that answer at every step.
    at_fixed: bool = False
    # The selector carried an `offset` modifier. Pure plan-time window
    # arithmetic (already folded into selector.start/end), but HTTP
    # dispatch needs to know the query used extended grammar.
    offset_used: bool = False
    # NESTED aggregation — topk(5, sum by (x) (rate(m[5m]))): the OUTER
    # level. ``agg``/``by``/``without``/``param`` describe the INNER
    # aggregation; the outer one applies to the inner's dashboard-sized
    # result (prometheus promql/parser accepts arbitrary nesting; two
    # levels cover the dashboard shapes, deeper is parse-rejected).
    outer_agg: str | None = None
    outer_param: float | None = None
    outer_by: list[str] = field(default_factory=list)
    outer_without: list[str] = field(default_factory=list)
    # Element-wise functions wrapping the OUTER aggregation — kept
    # apart from ``post`` (the inner's wrappers) so abs(topk(5,
    # sum by (x)(m))) applies in parse order: inner agg → post →
    # outer agg → outer_post.
    outer_post: list[tuple[str, float | None]] = field(
        default_factory=list
    )
    # THIRD nesting level (round 9): an UNGROUPED plain reduction over
    # a topk/bottomk sampler — sum(topk(5, sum by (x)(rate(m[5m])))),
    # the one dashboard triple ("total held by the top k"). Everything
    # deeper or wider stays parse-rejected.
    outer2_agg: str | None = None
    # The instant an instant query evaluates at: the parse anchor
    # ``now`` (selector windows, offsets and time() are all relative to
    # it). evaluate_extended evaluates the one-step grid here.
    eval_at: dt.datetime | None = None


class TimeScalar(float):
    """``time()`` as a binary operand: a plain float scalar (the parse
    anchor) that range evaluation recognizes by type to substitute the
    per-step timestamp column — Prometheus evaluates time()
    independently at every step, and a frozen clock repeated across
    the grid is silently wrong (round-12 advisor). Subclassing float
    keeps the parse-time scalar-operand checks untouched."""

    __slots__ = ()


@dataclass
class ScalarOf:
    """``scalar(expr)`` as a binary operand: the inner vector reduces
    to one scalar (NaN unless exactly one series, Prometheus) that is
    broadcast onto the other side."""

    eq: ExtendedQuery


@dataclass
class BinaryQuery:
    """One top-level binary operation between two vector expressions
    (or a vector and a scalar), with Prometheus one-to-one vector
    matching: series pair up on their full label set (metric name
    excluded), restricted by ``on (…)`` or ``ignoring (…)``.

    ``op`` is arithmetic (``+ - * /``), comparison (``> < >= <= ==
    !=``, optionally with the ``bool`` modifier), or a set operation
    (``and or unless``).

    ``group_mode`` enables Prometheus MANY-TO-ONE matching
    (``group_left``: the left operand is the "many" side;
    ``group_right`` mirrors). Requires an explicit ``on``/``ignoring``
    clause (as in Prometheus). ``group_labels`` are the one-side labels
    copied onto each result series (``group_left(lbl, …)``)."""

    op: str
    # Operands: a vector expression, a scalar literal, scalar(expr),
    # or (round 11) ONE nested BinaryQuery — the dashboard shapes
    # '(a / b) > 0.5' and 'sum(a) / (sum(b) + sum(c))'.
    left: "ExtendedQuery | BinaryQuery | ScalarOf | float"
    right: "ExtendedQuery | BinaryQuery | ScalarOf | float"
    on: list[str] = field(default_factory=list)
    ignoring: list[str] = field(default_factory=list)
    bool_mode: bool = False
    group_mode: str | None = None
    group_labels: list[str] = field(default_factory=list)
    # The parse anchor, as ExtendedQuery.eval_at.
    eval_at: dt.datetime | None = None


def _strip_parens(s: str) -> tuple[str, str]:
    """``s`` starts at '('; return (inner, trailing) respecting quoted
    strings (label values may contain parentheses)."""
    assert s[0] == "("
    depth, quote, i = 0, "", 0
    while i < len(s):
        c = s[i]
        if quote:
            if c == "\\" and quote != "`":
                i += 2
                continue
            if c == quote:
                quote = ""
        elif c in "\"'`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return s[1:i], s[i + 1:]
        i += 1
    raise PromQLError("parse", "Failed to parse PromQL query: unbalanced '('")


def _parse_grouping(rest: str) -> tuple[str | None, list[str], str]:
    """Parse an optional ``by (…)`` / ``without (…)`` clause at the head
    of ``rest``; returns (mode, labels, remaining)."""
    stripped = rest.lstrip()
    mode = None
    for kw in ("by", "without"):
        if stripped.startswith(kw) and not _NAME_RE.match(
            stripped[len(kw):] or " "
        ):
            mode = kw
            stripped = stripped[len(kw):].lstrip()
            break
    if mode is None:
        return None, [], rest
    if not stripped.startswith("("):
        raise PromQLError(
            "parse",
            f"Failed to parse PromQL query: expected '(' after '{mode}'",
        )
    inner, trailing = _strip_parens(stripped)
    labels = [x.strip() for x in inner.split(",") if x.strip()]
    for lbl in labels:
        if not _NAME_RE.fullmatch(lbl):
            raise PromQLError(
                "parse", f"Failed to parse PromQL query: bad label '{lbl}'"
            )
    return mode, labels, trailing


def _split_param(inner: str, head: str) -> tuple[float, str]:
    """Split the scalar first argument of ``topk(3, …)``-style calls."""
    m = _PARAM_RE.match(inner)
    if not m:
        raise PromQLError(
            "parse",
            f"{head}() requires a scalar first argument — "
            f"e.g. {head}(0.9, metric).",
        )
    return float(m.group(1)), inner[m.end():]


def _split_tail_param(
    inner: str, head: str, required: bool
) -> tuple[float | None, str]:
    """Split the scalar LAST argument of ``clamp_min(expr, 0)``-style
    calls (``round``'s is optional, defaulting to 1)."""
    depth, quote, last = 0, "", None
    i = 0
    while i < len(inner):
        c = inner[i]
        if quote:
            if c == "\\" and quote != "`":
                i += 2
                continue
            if c == quote:
                quote = ""
        elif c in "\"'`":
            quote = c
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            last = i
        i += 1
    if last is None:
        if required:
            raise PromQLError(
                "parse",
                f"{head}() requires a scalar second argument — "
                f"e.g. {head}(metric, 0).",
            )
        return None, inner
    tail = inner[last + 1:].strip()
    if not re.fullmatch(r"-?[0-9]+(\.[0-9]*)?([eE][+-]?[0-9]+)?", tail):
        raise PromQLError(
            "parse",
            f"{head}() requires a scalar second argument, got '{tail}'.",
        )
    return float(tail), inner[:last]


def _split_args(inner: str) -> list[str]:
    """Split at top-level commas (outside parens/brackets/quotes)."""
    parts, depth, quote, start = [], 0, "", 0
    i = 0
    while i < len(inner):
        c = inner[i]
        if quote:
            if c == "\\" and quote != "`":
                i += 2
                continue
            if c == quote:
                quote = ""
        elif c in "\"'`":
            quote = c
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(inner[start:i])
            start = i + 1
        i += 1
    parts.append(inner[start:])
    return parts


def _string_arg(text: str, head: str) -> str:
    """Parse one string-literal argument (same escape semantics as the
    selector scanner: backslash escapes n/t/r, else drops to the raw
    char — regex backslashes must be doubled)."""
    sc = _Scanner(text.strip())
    try:
        value = sc.string_literal()
    except PromQLError:
        raise PromQLError(
            "parse",
            f"{head}() expects a string literal, got '{text.strip()}'",
        ) from None
    if sc.rest().strip():
        raise PromQLError(
            "parse",
            f"{head}(): unexpected content after string: '{sc.rest().strip()}'",
        )
    return value


def _duration_ms(text: str) -> int:
    total, pos = 0, 0
    while pos < len(text):
        m = _DURATION_RE.match(text, pos)
        if not m:
            break
        total += int(float(m.group(1)) * _DUR_MS[m.group(2)])
        pos = m.end()
    return total


_AT_TAIL_RE = re.compile(
    r"^(?P<body>.*?)\s*@\s*(?P<ts>[0-9]+(?:\.[0-9]+)?)\s*$", re.S
)
_AT_STARTEND_RE = re.compile(r"@\s*(start|end)\s*\(\s*\)")


def _peel_eval_modifiers(text: str) -> tuple[str, float | None, int]:
    """Strip trailing ``offset <dur>`` / ``@ <unix-seconds>`` modifiers
    (either order, each at most once — duplicates are rejected like
    upstream) from a selector or subquery expression. Returns
    ``(body, at_ts, offset_ms)``."""
    s = text.strip()
    if _AT_STARTEND_RE.search(s):
        raise PromQLError(
            "modifier",
            "@ start() / @ end() are only meaningful inside a range "
            "query's window; use an absolute unix timestamp — e.g. "
            "m @ 1706000000.",
        )
    offset_ms: int | None = None
    at_ts: float | None = None
    changed = True
    while changed:
        changed = False
        m = _OFFSET_RE.match(s)
        if m:
            if offset_ms is not None:
                raise PromQLError(
                    "modifier",
                    "duplicate offset modifier on one selector.",
                )
            offset_ms = _duration_ms(m.group("dur"))
            s = m.group("body").strip()
            changed = True
        m = _AT_TAIL_RE.match(s)
        if m:
            if at_ts is not None:
                raise PromQLError(
                    "modifier", "duplicate @ modifier on one selector."
                )
            at_ts = float(m.group("ts"))
            s = m.group("body").strip()
            changed = True
    return s, at_ts, offset_ms or 0


def _parse_selector(
    text: str, now: dt.datetime
) -> tuple[ParsedQuery, bool]:
    """Selector parse with the PromQL evaluation-time modifiers, peeled
    from the tail in either order (both legal upstream):

    * ``offset <dur>`` shifts the window back — ``m[5m] offset 1h``
      reads [now-1h-5m, now-1h];
    * ``@ <unix-seconds>`` anchors the window at an ABSOLUTE time —
      ``m[5m] @ 1706000000`` reads the 5 minutes ending there. With
      both present, offset applies relative to the @ anchor
      (Prometheus semantics) — which the additive peel reproduces
      regardless of textual order. ``@ start()``/``@ end()`` exist
      only relative to a range query's window and are rejected
      didactically.

    Returns ``(query, at_used, offset_used)`` — range evaluation needs
    the @ flag to reject fixed-anchor selectors (their window cannot
    slide); HTTP dispatch needs the offset flag (the shift itself is
    already folded into the window)."""
    s, at_ts, offset_ms = _peel_eval_modifiers(text)
    q = parse_promql_query(s, now)
    start, end = q.start_time, q.end_time
    if at_ts is not None and end is not None:
        lookback = end - start
        anchored = dt.datetime.fromtimestamp(at_ts, dt.timezone.utc)
        if end.tzinfo is None:
            # Match the surrounding convention (registry callers pass
            # naive-UTC nows; the HTTP server passes aware ones) — a
            # mixed pair would crash every later datetime subtraction.
            anchored = anchored.replace(tzinfo=None)
        end = anchored
        start = end - lookback
    if offset_ms:
        shift = dt.timedelta(milliseconds=offset_ms)
        start = start - shift if start else None
        end = end - shift if end else None
    return (
        ParsedQuery(matchers=q.matchers, start_time=start, end_time=end),
        at_ts is not None,
        offset_ms > 0,
    )


def _is_hist(eq: "ExtendedQuery") -> bool:
    """The expression is a histogram function over a le-bucket vector
    (quantile or fraction) — they share every composition rule."""
    return eq.hist_quantile is not None or eq.hist_fraction is not None


def needs_extended(eq: "ExtendedQuery") -> bool:
    """True when ``eq`` uses ANY extended-grammar feature and must be
    evaluated by this module rather than the reference-parity plain
    selector path. The single source of truth for HTTP dispatch — an
    accreting boolean enumeration in the handler missed new fields
    twice (hist_fraction, at_fixed; round-7 review), so every new
    ExtendedQuery capability must be added HERE, next to its field."""
    return (
        eq.func is not None
        or eq.agg is not None
        or _is_hist(eq)
        or eq.const is not None
        or eq.sort is not None
        or eq.at_fixed
        or eq.offset_used
        or eq.sub_inner is not None
        or bool(eq.label_ops)
        or bool(eq.post)
        or bool(eq.series_post)
        or eq.outer_agg is not None
    )


def _reject_wrapped_sort(sub: ExtendedQuery, head: str) -> None:
    """sort()/sort_desc() order the FINAL vector — anything applied on
    top would silently discard the ordering, so wrapping is rejected
    didactically instead."""
    if sub.sort is not None:
        raise PromQLError(
            "call",
            f"{head}() over sort()/sort_desc() discards the ordering — "
            "apply sort() outermost.",
        )


_SELECTION_AGGS = frozenset(["topk", "bottomk"]) | LIMIT_AGGS


def _nest_aggregation(
    head: str,
    mode: str | None,
    labels: list[str],
    param: float | None,
    sub: "ExtendedQuery",
) -> "ExtendedQuery":
    """An aggregation operator over an already-aggregated expression —
    ``topk(5, sum by (x) (rate(m[5m])))`` and friends. The outer level
    rides the ``outer_*`` fields and is applied to the inner result
    (dashboard-sized — groups or selected series, never samples).

    Supported inner result shapes, and what the outer may do to them:

    * inner ``by (…)`` reduction (incl. ``count_values`` and an
      ungrouped reduction, whose key set is empty): the result's only
      columns are the inner group keys — the outer may group ``by`` a
      SUBSET of them, or not group at all. ``without`` has no label
      map to subtract from and is rejected.
    * inner selection (``topk``/``bottomk``/``limitk``/``limit_ratio``):
      series-shaped — outer ``by``/``without`` both work as on any
      instant vector.
    * inner ``without (…)`` reduction: the residual label set is a
      CANONICAL STRING key (Spark cannot group by a map) — only an
      ungrouped outer reduction is meaningful; grouped outers are
      rejected with the remedy (group the inner with ``by``).

    A THIRD level is permitted for exactly one shape (round 9): an
    UNGROUPED plain reduction (sum/avg/min/max/count/group) over a
    ``topk``/``bottomk`` second level — ``sum(topk(5, sum by (x)
    (rate(m[5m]))))``, the "total held by the top k" dashboard
    triple. Anything deeper or wider is rejected, as are
    ``count_values``/``limitk``/``limit_ratio`` as the outer level
    and outers over aggregated histogram functions."""
    if sub.outer_agg is not None:
        if (
            sub.outer2_agg is None
            and not sub.outer_post
            and sub.outer_agg in ("topk", "bottomk")
            and head in ("sum", "avg", "min", "max", "count", "group")
            and mode is None
        ):
            # (outer_post must be empty: sum(abs(topk(...))) would
            # need the wrapper BETWEEN levels, but outer_post applies
            # after the whole nest — reject rather than misorder.)
            # The permitted triple: plain ungrouped reduction over the
            # level-2 sampler's selected rows.
            return dataclasses.replace(sub, outer2_agg=head)
        raise PromQLError(
            "aggregation",
            "Nested aggregations deeper than two levels are only "
            "supported as an ungrouped plain reduction over a "
            "topk/bottomk sampler (e.g. sum(topk(5, sum by (x) "
            "(...)))) — flatten the inner levels otherwise.",
        )
    if head == "count_values" or head in LIMIT_AGGS:
        raise PromQLError(
            "aggregation",
            f"{head}() over an aggregation is not supported — "
            "apply it to the series, then aggregate.",
        )
    if _is_hist(sub):
        raise PromQLError(
            "aggregation",
            f"{head}() over an AGGREGATED histogram function is not "
            "supported — drop the inner aggregation (the bucket "
            "sum rides inside histogram_quantile) or the outer one.",
        )
    inner_selection = sub.agg in _SELECTION_AGGS
    if mode == "without" and not inner_selection:
        raise PromQLError(
            "aggregation",
            f"{head} without (…) over an inner by (…)/without (…) "
            "reduction is not supported — the inner result carries "
            "only its group keys; group the outer with by (…).",
        )
    if mode == "by" and not inner_selection:
        if sub.without:
            raise PromQLError(
                "aggregation",
                f"{head} by (…) over an inner without (…) reduction "
                "is not supported — the residual label set is a "
                "canonical string; group the inner with by (…) "
                "instead.",
            )
        inner_keys = set(sub.by)
        if sub.agg == "count_values" and sub.label_param:
            inner_keys.add(sub.label_param)
        missing = [lbl for lbl in labels if lbl not in inner_keys]
        if missing:
            raise PromQLError(
                "aggregation",
                f"{head} by ({', '.join(labels)}) groups on labels the "
                f"inner aggregation dropped ({', '.join(missing)}) — "
                "add them to the inner by (…) clause.",
            )
    return dataclasses.replace(
        sub,
        outer_agg=head,
        outer_param=param,
        outer_by=list(labels) if mode == "by" else [],
        outer_without=list(labels) if mode == "without" else [],
        outer_post=[],
    )


def _now_epoch(now: dt.datetime) -> float:
    if now.tzinfo is None:
        now = now.replace(tzinfo=dt.timezone.utc)
    return now.timestamp()


_NUMBER_RE = re.compile(
    r"[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?"
)


def parse_extended(query: str, now: dt.datetime | None = None) -> ExtendedQuery:
    """Parse selector | FUNC(matrix-selector) | AGG [by|without (…)] ( inner ).
    ``now`` (default: the wall clock) anchors every window and is
    recorded as the query's evaluation instant ``eval_at``."""
    now = now or dt.datetime.now(dt.timezone.utc)
    eq = _parse_extended(query, now)
    eq.eval_at = now
    return eq


def _parse_extended(query: str, now: dt.datetime) -> ExtendedQuery:
    s = query.strip()
    m = _NAME_RE.match(s)
    head = m.group(0) if m else None
    rest = s[m.end():].lstrip() if m else s

    if head in SORT_FUNCS and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        if _find_top_level_op(inner) is not None:
            raise PromQLError(
                "call",
                f"{head}() over a binary operation is not supported; "
                "sort the result client-side.",
            )
        sub = parse_extended(inner, now)
        if sub.sort is not None:
            raise PromQLError(
                "call", "sort()/sort_desc() cannot nest — one ordering."
            )
        sub.sort = "asc" if head == "sort" else "desc"
        return sub

    if head in SORT_LABEL_FUNCS and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        args = _split_args(inner)
        if len(args) < 2:
            raise PromQLError(
                "parse",
                f"{head}() expects a vector and at least one label "
                f'name — e.g. {head}(m, "instance").',
            )
        labels = [_string_arg(a, head) for a in args[1:]]
        for lbl in labels:
            if not _NAME_RE.fullmatch(lbl):
                raise PromQLError(
                    "parse", f"{head}(): invalid label name '{lbl}'"
                )
        if _find_top_level_op(args[0]) is not None:
            raise PromQLError(
                "call",
                f"{head}() over a binary operation is not supported; "
                "sort the result client-side.",
            )
        sub = parse_extended(args[0], now)
        if sub.sort is not None:
            raise PromQLError(
                "call", "sort functions cannot nest — one ordering."
            )
        if (
            sub.agg not in (None, "topk", "bottomk", "limitk", "limit_ratio")
            or sub.const is not None
        ):
            raise PromQLError(
                "call",
                f"{head}() orders a SERIES vector by its labels; "
                "aggregated or constant results have none.",
            )
        if _is_hist(sub):
            # histogram_quantile/fraction results carry canonicalized
            # STRING labels (the le bucket is folded away) — there is
            # no map to element_at, so reject here rather than letting
            # evaluation die with an opaque AnalysisException.
            raise PromQLError(
                "call",
                f"{head}() over histogram_quantile()/histogram_fraction() "
                "is not supported — the histogram result's labels are "
                "canonicalized; use sort()/sort_desc() on the value.",
            )
        sub.sort = "asc" if head == "sort_by_label" else "desc"
        sub.sort_labels = labels
        return sub

    if head == "time" and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip() or inner.strip():
            raise PromQLError("call", "time() takes no arguments.")
        return ExtendedQuery(
            selector=None, const=_now_epoch(now), const_is_time=True
        )

    if head == "vector" and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        inner = inner.strip()
        if inner == "time()":
            return ExtendedQuery(
                selector=None, const=_now_epoch(now), const_is_time=True
            )
        if _NUMBER_RE.fullmatch(inner):
            return ExtendedQuery(selector=None, const=float(inner))
        raise PromQLError(
            "call",
            "vector() takes a scalar — a number literal or time(); for "
            "an existing series just query the selector.",
        )

    if head == "scalar" and rest.startswith("("):
        raise PromQLError(
            "call",
            "scalar() is supported as a binary-operation operand — e.g. "
            "m / scalar(sum(n)) — not as a standalone query; query the "
            "vector directly instead.",
        )

    if head in LABEL_FUNCS and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        args = _split_args(inner)
        if head == "label_replace" and len(args) != 5:
            raise PromQLError(
                "parse",
                "label_replace() expects 5 arguments "
                "(vector, dst, replacement, src, regex).",
            )
        if head == "label_join" and len(args) < 4:
            raise PromQLError(
                "parse",
                "label_join() expects at least 4 arguments "
                "(vector, dst, separator, src, …).",
            )
        sub = parse_extended(args[0], now)
        _reject_wrapped_sort(sub, head)
        if sub.agg is not None:
            raise PromQLError(
                "aggregation",
                f"{head}() applies to series vectors; aggregate outside — "
                f"e.g. sum by (dst) ({head}(…)).",
            )
        if sub.func in ABSENT_FUNCS:
            raise PromQLError(
                "call",
                f"{head}() over {sub.func}() is not supported.",
            )
        strs = tuple(_string_arg(a, head) for a in args[1:])
        if not _NAME_RE.fullmatch(strs[0]):
            raise PromQLError(
                "parse", f"{head}(): invalid destination label '{strs[0]}'"
            )
        sub.label_ops.append((head, strs))
        return sub

    if (head in SCALAR_FUNCS or head in DATE_FUNCS) and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        p = None
        if head in TAIL_PARAM_FUNCS:
            p, inner = _split_tail_param(
                inner, head, required=head != "round"
            )
            if head == "round" and p is None:
                p = 1.0
        elif head in TAIL2_PARAM_FUNCS:
            # clamp(v, min, max): peel max first (rightmost), then min.
            hi, inner = _split_tail_param(inner, head, required=True)
            lo, inner = _split_tail_param(inner, head, required=True)
            p = (lo, hi)
        if head in DATE_FUNCS and not inner.strip():
            # Prometheus default argument: vector(time()).
            sub = ExtendedQuery(
                selector=None, const=_now_epoch(now), const_is_time=True
            )
        else:
            sub = parse_extended(inner, now)
        _reject_wrapped_sort(sub, head)
        if sub.outer_agg is not None:
            sub.outer_post.append((head, p))
        else:
            sub.post.append((head, p))
        return sub

    if head in AGG_OPS and (
        rest.startswith("(")
        or rest.startswith("by")
        or rest.startswith("without")
    ):
        mode, labels, rest = _parse_grouping(rest)
        rest = rest.lstrip()
        if not rest.startswith("("):
            raise PromQLError(
                "parse",
                f"Failed to parse PromQL query: expected '(' after '{head}'",
            )
        inner, trailing = _strip_parens(rest)
        trailing = trailing.strip()
        if trailing:
            mode2, labels2, trailing = _parse_grouping(trailing)
            if mode2 is not None:
                if mode is not None:
                    raise PromQLError(
                        "parse",
                        f"Failed to parse PromQL query: duplicate '{mode2}'",
                    )
                mode, labels = mode2, labels2
            trailing = trailing.strip()
        if trailing:
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing}'",
            )
        param = None
        label_param = None
        if head in PARAM_AGGS:
            if head == "limit_ratio":
                # The ratio may be NEGATIVE (complement selection) — a
                # signed variant of the shared unsigned _PARAM_RE.
                m = re.match(
                    r"\s*([+-]?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)\s*,",
                    inner,
                )
                if not m:
                    raise PromQLError(
                        "parse",
                        "limit_ratio() requires a scalar first argument "
                        "— e.g. limit_ratio(0.9, metric).",
                    )
                param, inner = float(m.group(1)), inner[m.end():]
            else:
                param, inner = _split_param(inner, head)
            if head == "limitk" and (param < 0 or param != int(param)):
                raise PromQLError(
                    "call",
                    f"limitk() expects a non-negative integer k, got "
                    f"{param:g}.",
                )
            if head == "limit_ratio" and not (-1.0 <= param <= 1.0):
                raise PromQLError(
                    "call",
                    f"limit_ratio() expects a ratio in [-1, 1], got "
                    f"{param:g}.",
                )
        elif head == "count_values":
            m = re.match(r"""\s*["']([a-zA-Z_][a-zA-Z0-9_]*)["']\s*,""", inner)
            if not m:
                raise PromQLError(
                    "parse",
                    'count_values() requires a label-name first argument '
                    '— e.g. count_values("version", build_info).',
                )
            label_param = m.group(1)
            inner = inner[m.end():]
        sub = parse_extended(inner, now)
        _reject_wrapped_sort(sub, head)
        if sub.agg is not None:
            return _nest_aggregation(
                head, mode, labels, param, sub
            )
        if sub.func in ABSENT_FUNCS:
            raise PromQLError(
                "aggregation",
                f"Aggregating {sub.func}() is meaningless — its result "
                "is already a 0-or-1-element vector.",
            )
        if sub.sub_inner is not None and sub.sub_inner.agg is not None:
            raise PromQLError(
                "aggregation",
                "Aggregate either inside the subquery or outside it, "
                "not both.",
            )
        if _is_hist(sub):
            # Outer aggregation over a quantile/fraction vector: only
            # ungrouped value folds are meaningful (the histogram
            # output keys on a canonical label string, not a label
            # map).
            if labels:
                raise PromQLError(
                    "aggregation",
                    "Grouped aggregation over a histogram function is "
                    "not supported — aggregate ungrouped "
                    "(e.g. max(histogram_quantile(0.9, m_bucket))).",
                )
            if head not in _AGG_FNS and head != "quantile":
                raise PromQLError(
                    "aggregation",
                    f"{head}() over a histogram function is not "
                    "supported.",
                )
        return ExtendedQuery(
            selector=sub.selector,
            func=sub.func,
            agg=head,
            by=labels if mode == "by" else [],
            without=labels if mode == "without" else [],
            param=param,
            func_param=sub.func_param,
            label_param=label_param,
            label_ops=sub.label_ops,
            series_post=sub.post,
            hist_quantile=sub.hist_quantile,
            hist_fraction=sub.hist_fraction,
            hist_inner_post=sub.hist_inner_post,
            sub_inner=sub.sub_inner,
            sub_range_s=sub.sub_range_s,
            sub_step_s=sub.sub_step_s,
            sub_eval=sub.sub_eval,
            const=sub.const,
            const_is_time=sub.const_is_time,
            at_fixed=sub.at_fixed,
            offset_used=sub.offset_used,
        )

    if head in ("histogram_quantile", "histogram_fraction") and (
        rest.startswith("(")
    ):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        # Leading scalars may be any sign (φ < 0 → -Inf; fraction
        # bounds are arbitrary reals) — a signed variant of _PARAM_RE
        # rather than the shared unsigned one.
        signed = r"\s*([+-]?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)\s*,"
        n_scalars = 1 if head == "histogram_quantile" else 2
        params = []
        for _ in range(n_scalars):
            m2 = re.match(signed, inner)
            if not m2:
                example = (
                    "histogram_quantile(0.9, metric_bucket)"
                    if head == "histogram_quantile"
                    else "histogram_fraction(0, 0.5, metric_bucket)"
                )
                raise PromQLError(
                    "call",
                    f"{head}() requires {n_scalars} scalar leading "
                    f"argument(s) — e.g. {example}.",
                )
            params.append(float(m2.group(1)))
            inner = inner[m2.end():]
        sub = parse_extended(inner, now)
        _reject_wrapped_sort(sub, head)
        if sub.const is not None:
            raise PromQLError(
                "call",
                f"{head}() requires a bucket vector, not a constant.",
            )
        if _is_hist(sub):
            raise PromQLError(
                "call",
                f"{head}() cannot wrap a histogram function — the "
                "inner result is already a quantile/fraction, not a "
                "bucket vector.",
            )
        if sub.agg is not None:
            if sub.agg not in _AGG_FNS or sub.without or "le" not in sub.by:
                raise PromQLError(
                    "call",
                    f"an aggregation inside {head}() must keep the le "
                    f"label — e.g. {head}(…, sum by (le, instance) "
                    "(rate(m_bucket[5m]))).",
                )
        # Posts parsed so far wrapped the ARGUMENT (bucket values);
        # posts parsed after this point wrap the result. Separate them
        # so e.g. max(abs(histogram_quantile(…))) applies abs to
        # quantiles, never to counts.
        sub.hist_inner_post = sub.post
        sub.post = []
        if head == "histogram_quantile":
            sub.hist_quantile = params[0]
        else:
            sub.hist_fraction = (params[0], params[1])
        return sub

    if head in RANGE_FUNCS and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        func_param = None
        if head in PARAM_FUNCS:
            func_param, inner = _split_param(inner, head)
        elif head in TAIL_PARAM_RANGE_FUNCS:
            func_param, inner = _split_tail_param(inner, head, required=True)
        elif head in TAIL2_PARAM_RANGE_FUNCS:
            # holt_winters(m[1h], sf, tf): peel tf (rightmost), then sf.
            tf, inner = _split_tail_param(inner, head, required=True)
            sf, inner = _split_tail_param(inner, head, required=True)
            for nm, v in (("smoothing factor", sf), ("trend factor", tf)):
                if not (0.0 < v < 1.0):
                    raise PromQLError(
                        "call",
                        f"{head}(): {nm} must be in (0, 1), got {v:g}.",
                    )
            func_param = (sf, tf)
        # A subquery may carry its own trailing @/offset modifiers
        # (`expr[r:s] @ ts offset d` — Prometheus grammar): peel them
        # first; when the body is NOT a subquery the ORIGINAL text
        # flows to the selector parser, which peels selector-level
        # modifiers itself.
        sq_body, sq_at, sq_off_ms = _peel_eval_modifiers(inner)
        sq = _SUBQUERY_RE.fullmatch(sq_body)
        if sq:
            if head not in SUBQUERY_OUTER:
                raise PromQLError(
                    "call",
                    f"{head}() over a subquery is not supported; "
                    "supported outer functions: "
                    f"{', '.join(sorted(SUBQUERY_OUTER))}.",
                )
            if not sq.group("step"):
                raise PromQLError(
                    "subquery",
                    "Subqueries need an explicit step — [30m:5m], not "
                    "[30m:] (this engine has no global evaluation "
                    "interval to default to).",
                )
            sub = parse_extended(sq.group("body"), now)
            _reject_wrapped_sort(sub, head)
            if sub.const is not None:
                raise PromQLError(
                    "subquery",
                    "a constant inside a subquery is constant at every "
                    "step; query it directly.",
                )
            if sub.at_fixed:
                raise PromQLError(
                    "subquery",
                    "@ inside a subquery is not supported — the fixed "
                    "anchor would make every step identical.",
                )
            if sub.sub_inner is not None:
                raise PromQLError(
                    "subquery", "Nested subqueries are not supported."
                )
            if sub.func in ABSENT_FUNCS:
                raise PromQLError(
                    "subquery",
                    f"{sub.func}() inside a subquery is not supported.",
                )
            if _is_hist(sub):
                raise PromQLError(
                    "subquery",
                    "histogram functions inside a subquery are not "
                    "supported; apply them to the subquery result "
                    "instead.",
                )
            if sub.agg == "count_values":
                raise PromQLError(
                    "subquery",
                    "count_values inside a subquery is not supported.",
                )
            sub_eval = now
            if sq_at is not None:
                anchored = dt.datetime.fromtimestamp(
                    sq_at, dt.timezone.utc
                )
                if sub_eval.tzinfo is None:
                    anchored = anchored.replace(tzinfo=None)
                sub_eval = anchored
            if sq_off_ms:
                sub_eval = sub_eval - dt.timedelta(milliseconds=sq_off_ms)
            if (sq_at is not None or sq_off_ms) and sub.offset_used:
                raise PromQLError(
                    "modifier",
                    "an inner selector offset cannot combine with an "
                    "outer subquery @/offset — fold the shifts into "
                    "one modifier.",
                )
            return ExtendedQuery(
                selector=sub.selector,
                func=head,
                func_param=func_param,
                sub_inner=sub,
                sub_range_s=_dur_seconds(sq.group("rng")),
                sub_step_s=_dur_seconds(sq.group("step")),
                sub_eval=sub_eval,
                at_fixed=sq_at is not None,
                offset_used=bool(sq_off_ms) or sub.offset_used,
                sub_offset_s=sq_off_ms / 1000.0,
            )
        if "[" not in inner:
            raise PromQLError(
                "call",
                f"{head}() requires a range vector — e.g. {head}(metric[5m]).",
            )
        sel, at_used, off_used = _parse_selector(inner, now)
        return ExtendedQuery(
            selector=sel,
            func=head,
            func_param=func_param,
            at_fixed=at_used,
            offset_used=off_used,
        )

    if head in ABSENT_FUNCS and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        inner = inner.strip()
        # Every function head the grammar knows is rejected here, not
        # just the instant-evaluable ones — otherwise e.g.
        # absent(label_replace(m,…)) falls through to the selector
        # parser and surfaces a confusing parse error instead of this
        # didactic one (advisor finding, round 6). Only an actual CALL
        # (name followed by '(') is rejected — a metric merely NAMED
        # like a function, e.g. absent(time{job="x"}), stays a selector.
        inner_head = _NAME_RE.match(inner)
        if inner_head and inner[inner_head.end():].lstrip().startswith(
            "("
        ) and inner_head.group(0) in (
            RANGE_FUNCS
            | AGG_OPS
            | SCALAR_FUNCS
            | ABSENT_FUNCS
            | LABEL_FUNCS
            | INSTANT_FUNCS
            | DATE_FUNCS
            | SORT_FUNCS
            | {"histogram_quantile", "histogram_fraction", "time",
               "vector", "scalar"}
        ):
            raise PromQLError(
                "call",
                f"{head}() takes a plain selector, not an expression.",
            )
        # Range brackets only count OUTSIDE quoted matcher values —
        # `up{instance=~"host[0-9]"}` carries no range (_depth_at marks
        # in-string characters with -1).
        has_range = any(
            ch == "[" and d != -1
            for ch, d in zip(inner, _depth_at(inner))
        )
        if head == "absent" and has_range:
            raise PromQLError(
                "call",
                "absent() takes an instant selector; use "
                "absent_over_time(metric[5m]) for a range.",
            )
        if head == "absent_over_time" and not has_range:
            raise PromQLError(
                "call",
                "absent_over_time() requires a range vector — e.g. "
                "absent_over_time(metric[5m]).",
            )
        sel, at_used, off_used = _parse_selector(inner, now)
        return ExtendedQuery(
            selector=sel, func=head, at_fixed=at_used, offset_used=off_used
        )

    if head in INSTANT_FUNCS and rest.startswith("("):
        inner, trailing = _strip_parens(rest)
        if trailing.strip():
            raise PromQLError(
                "parse",
                f"Unexpected trailing content in query: '{trailing.strip()}'",
            )
        sub = parse_extended(inner, now)
        if (
            sub.func is not None
            or sub.agg is not None
            or sub.post
            or _is_hist(sub)
            or sub.sub_inner is not None
            or sub.const is not None
            or sub.sort is not None
        ):
            raise PromQLError(
                "call",
                f"{head}() applies to a plain instant selector — "
                f"e.g. {head}(metric).",
            )
        sub.func = head
        return sub

    sel, at_used, off_used = _parse_selector(query, now)
    return ExtendedQuery(selector=sel, at_fixed=at_used, offset_used=off_used)


_SET_OPS = ("and", "unless", "or")
_CMP_OPS = (">=", "<=", "==", "!=", ">", "<")

# How deep binary expressions may nest below the top-level split
# (each recursion into an operand that itself contains a top-level
# operator costs one level). 3 admits the real dashboard shapes —
# 'a / (b + c) * 100' needs operand splits at depths 1 and 2 — while
# still bounding the join tree a single HTTP query can demand.
MAX_BINARY_DEPTH = 3


def _depth_at(s: str) -> list[int]:
    """Per-character nesting depth over ``()[]{}``, with -1 marking
    characters inside string literals — used to find top-level binary
    operators without tripping on label matchers or quoted values."""
    depths = [0] * len(s)
    depth, quote = 0, ""
    i = 0
    while i < len(s):
        c = s[i]
        if quote:
            depths[i] = -1
            if c == "\\" and quote != "`":
                if i + 1 < len(s):
                    depths[i + 1] = -1
                i += 2
                continue
            if c == quote:
                quote = ""
        elif c in "\"'`":
            quote = c
            depths[i] = -1
        elif c in "([{":
            depth += 1
            depths[i] = depth
        elif c in ")]}":
            depths[i] = depth
            depth -= 1
        else:
            depths[i] = depth
        i += 1
    return depths


# Prometheus operator precedence, loosest-binding first — the split
# point of an expression is its loosest top-level operator (rightmost
# within a class for the left-associative ones, leftmost for the
# right-associative ``^``).
_PRECEDENCE = (
    ("or",),
    ("and", "unless"),
    (">=", "<=", "==", "!=", ">", "<"),
    ("+", "-"),
    ("*", "/", "%", "atan2"),
    ("^",),
)


def _find_top_level_op(s: str) -> tuple[int, str] | None:
    """The binary operator to SPLIT at (position, token): the
    loosest-precedence operator outside any parens/brackets/braces/
    quotes, rightmost within its precedence class (Prometheus
    left-associativity; ``^`` is right-associative → leftmost). None
    when the expression has no top-level operator. Nesting depth is
    bounded by the caller (parse_extended_expr), not here."""
    depths = _depth_at(s)
    found: list[tuple[int, str]] = []

    for m in re.finditer(
        r"(?<![A-Za-z0-9_:])(and|unless|or|atan2)(?![A-Za-z0-9_:])", s
    ):
        if depths[m.start()] == 0:
            found.append((m.start(), m.group(1)))

    i = 0
    while i < len(s):
        if depths[i] != 0:
            i += 1
            continue
        two = s[i:i + 2]
        if two in (">=", "<=", "==", "!="):
            found.append((i, two))
            i += 2
            continue
        c = s[i]
        if c in "><":
            found.append((i, c))
        elif c in "+-*/%^":
            # A sign inside a scientific literal (`2e-3`) is not an
            # operator.
            if c in "+-" and i >= 2 and s[i - 1] in "eE" and s[i - 2].isdigit():
                i += 1
                continue
            found.append((i, c))
        i += 1
    if not found:
        return None
    # Position-order across BOTH scans: keyword operators (and/unless/
    # or/atan2) were collected before the single-char pass, so without
    # this sort hits[-1] is not the rightmost operator of a mixed
    # class — 'a / b atan2 c' would split at '/' and evaluate the
    # right-associative grouping a / (b atan2 c) instead of the
    # Prometheus left-associative (a / b) atan2 c.
    found.sort(key=lambda p: p[0])
    for cls in _PRECEDENCE:
        hits = [(i, tok) for i, tok in found if tok in cls]
        if hits:
            return hits[0] if cls == ("^",) else hits[-1]
    return None  # pragma: no cover — every token is classed above


def parse_extended_expr(
    query: str, now: dt.datetime | None = None, _depth: int = 0
) -> "ExtendedQuery | BinaryQuery":
    """Full extended grammar: ``expr [op [on|ignoring (…)] expr]`` where
    each side is the `parse_extended` grammar, a scalar literal, or a
    nested binary expression up to :data:`MAX_BINARY_DEPTH` split
    levels — the dashboard shapes ``(a / b) > 0.5``,
    ``sum(a) / (sum(b) + sum(c))``, ``a / b / c`` and (round 12) the
    two-level percentage shape ``a / (b + c) * 100`` (Prometheus
    precedence + associativity pick every split). Deeper nesting
    raises didactically at the configured bound."""
    now = now or dt.datetime.now(dt.timezone.utc)
    s = query.strip()
    # Surrounding parentheses that wrap the WHOLE expression are
    # grouping only — unwrap before splitting.
    while s.startswith("("):
        inner, trailing = _strip_parens(s)
        if trailing.strip():
            break
        s = inner.strip()
    hit = _find_top_level_op(s)
    if hit is None:
        return parse_extended(s, now)
    if _depth >= MAX_BINARY_DEPTH:
        raise PromQLError(
            "binary",
            f"Binary operations nest at most {MAX_BINARY_DEPTH - 1} "
            "levels below the top-level operator (e.g. "
            "'a / (b + c) * 100'); compute deeper expressions in "
            "two queries.",
        )
    idx, op = hit
    left_text, rest = s[:idx].strip(), s[idx + len(op):].strip()
    bool_mode = False
    if op in _CMP_OPS:
        m = re.match(r"bool(?![A-Za-z0-9_])", rest)
        if m:
            bool_mode = True
            rest = rest[m.end():].lstrip()
    mode, labels, rest = _parse_matching(rest)
    gmode, glabels, rest = _parse_group(rest)
    if gmode is not None and mode is None:
        raise PromQLError(
            "binary",
            f"group_{gmode} requires an explicit matching clause: write "
            f"'on (…)' or 'ignoring (…)' before group_{gmode} so the "
            "many-to-one match group is named.",
        )
    if gmode is not None and op in _SET_OPS:
        raise PromQLError(
            "binary",
            f"group_{gmode} cannot be used with set operations "
            f"('{op}'): set operations match whole series, not groups.",
        )
    right_text = rest.strip()
    if not left_text or not right_text:
        raise PromQLError(
            "parse", "Failed to parse PromQL query: missing binary operand"
        )

    def side(text: str) -> "ExtendedQuery | ScalarOf | float":
        if re.fullmatch(
            r"[0-9]+(\.[0-9]*)?([eE][+-]?[0-9]+)?|\.[0-9]+", text
        ):
            return float(text)
        if re.fullmatch(r"time\s*\(\s*\)", text):
            # time() is a SCALAR in Prometheus — as an operand it is a
            # plain literal, not an empty-label vector to match on.
            # The TimeScalar type lets evaluation swap in the per-step
            # timestamp.
            return TimeScalar(_now_epoch(now))
        if re.fullmatch(r"pi\s*\(\s*\)", text):
            return math.pi
        m = _NAME_RE.match(text)
        if (
            m
            and m.group(0) == "scalar"
            and text[m.end():].lstrip().startswith("(")
        ):
            inner, trailing = _strip_parens(text[m.end():].lstrip())
            if trailing.strip():
                raise PromQLError(
                    "parse",
                    "Unexpected trailing content in query: "
                    f"'{trailing.strip()}'",
                )
            sub = parse_extended(inner, now)
            _reject_wrapped_sort(sub, "scalar")
            if sub.func in ABSENT_FUNCS:
                raise PromQLError(
                    "call",
                    "scalar() over absent() is not supported; use the "
                    "absent vector directly.",
                )
            return ScalarOf(sub)
        # A (possibly parenthesized) operand that itself contains a
        # top-level binary operator is ONE nested binary expression —
        # parse it through the same grammar, one level down.
        unwrapped = text
        while unwrapped.startswith("("):
            inner, trailing = _strip_parens(unwrapped)
            if trailing.strip():
                break
            unwrapped = inner.strip()
        if _find_top_level_op(unwrapped) is not None:
            return parse_extended_expr(unwrapped, now, _depth + 1)
        sub = parse_extended(unwrapped, now)
        if sub.sort is not None:
            raise PromQLError(
                "binary",
                "sort() operands in binary operations are not "
                "supported — the join discards the ordering; sort the "
                "result client-side.",
            )
        return sub

    left, right = side(left_text), side(right_text)
    if isinstance(left, (float, ScalarOf)) and isinstance(
        right, (float, ScalarOf)
    ):
        raise PromQLError(
            "literal",
            "A scalar-only expression is not a valid query. Use a "
            "metric selector like 'metric_name{label=\"value\"}'.",
        )
    if op in _SET_OPS and (
        isinstance(left, (float, ScalarOf))
        or isinstance(right, (float, ScalarOf))
    ):
        raise PromQLError(
            "binary",
            f"'{op}' is a set operation between two instant vectors; "
            "scalars have no label sets to match on.",
        )
    if gmode is not None and (
        isinstance(left, (float, ScalarOf))
        or isinstance(right, (float, ScalarOf))
    ):
        raise PromQLError(
            "binary",
            f"group_{gmode} is many-to-one VECTOR matching; a scalar "
            "operand has no series to group.",
        )
    if gmode is not None and (
        isinstance(left, BinaryQuery) or isinstance(right, BinaryQuery)
    ):
        raise PromQLError(
            "binary",
            f"group_{gmode} over a nested binary operand is not "
            "supported; compute the inner expression separately.",
        )
    return BinaryQuery(
        op=op,
        left=left,
        right=right,
        on=labels if mode == "on" else [],
        ignoring=labels if mode == "ignoring" else [],
        bool_mode=bool_mode,
        group_mode=gmode,
        group_labels=glabels,
        eval_at=now,
    )


def _parse_group(rest: str) -> tuple[str | None, list[str], str]:
    """Parse an optional ``group_left``/``group_right`` modifier with its
    optional copied-label list (``group_left(lbl, …)``)."""
    stripped = rest.lstrip()
    for kw in ("group_left", "group_right"):
        if stripped.startswith(kw) and not _NAME_RE.match(
            stripped[len(kw):] or " "
        ):
            after = stripped[len(kw):].lstrip()
            labels: list[str] = []
            if after.startswith("("):
                inner, after = _strip_parens(after)
                labels = [x.strip() for x in inner.split(",") if x.strip()]
                for lbl in labels:
                    if not _NAME_RE.fullmatch(lbl):
                        raise PromQLError(
                            "parse",
                            "Failed to parse PromQL query: bad label "
                            f"'{lbl}'",
                        )
            return kw[len("group_"):], labels, after
    return None, [], rest


def _parse_matching(rest: str) -> tuple[str | None, list[str], str]:
    """Parse an optional ``on (…)`` / ``ignoring (…)`` matching clause."""
    stripped = rest.lstrip()
    for kw in ("on", "ignoring"):
        if stripped.startswith(kw) and not _NAME_RE.match(
            stripped[len(kw):] or " "
        ):
            after = stripped[len(kw):].lstrip()
            if not after.startswith("("):
                raise PromQLError(
                    "parse",
                    f"Failed to parse PromQL query: expected '(' after '{kw}'",
                )
            inner, trailing = _strip_parens(after)
            labels = [x.strip() for x in inner.split(",") if x.strip()]
            for lbl in labels:
                if not _NAME_RE.fullmatch(lbl):
                    raise PromQLError(
                        "parse",
                        f"Failed to parse PromQL query: bad label '{lbl}'",
                    )
            return kw, labels, trailing
    return None, [], rest


def _epoch_us(ts: dt.datetime) -> int:
    """Naive timestamps are interpreted as UTC (the engine's session
    timezone) — same convention as evaluate_range."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return int(ts.timestamp() * 1_000_000)


def _offset_us(eq: ExtendedQuery, now: dt.datetime | None) -> int:
    """The selector's ``offset`` in µs: the parse anchor ``now`` minus
    the selector's (already shifted) window end; 0 without ``now``."""
    if now is None:
        return 0
    return max(0, _epoch_us(now) - _epoch_us(eq.selector.end_time))


@dataclass(frozen=True)
class _Grid:
    """The evaluation steps ``t_i = start + i·step``, i ∈ [0, n_steps],
    in µs; ``start``/``end`` keep the caller's datetimes for scan
    bounds. An instant query is the grid with ``n_steps == 0``."""

    start: dt.datetime
    end: dt.datetime
    start_us: int
    s_us: int
    n_steps: int

    @classmethod
    def of(cls, start: dt.datetime, end: dt.datetime, step_seconds: float):
        start_us, s_us = _epoch_us(start), int(step_seconds * 1_000_000)
        return cls(start, end, start_us, s_us,
                   (_epoch_us(end) - start_us) // s_us)

    def step_us(self, i: str = "__i") -> F.Column:
        """The step time (µs) of the step index column ``i`` — a
        literal on a one-step grid, which keeps the planner folding
        the step out of every window, grouping and join key."""
        if self.n_steps == 0:
            return F.lit(self.start_us)
        return (F.lit(self.start_us) + F.col(i) * F.lit(self.s_us)).cast(
            "long"
        )

    def t_col(self) -> F.Column:
        """The step timestamp ``t`` of the ``__i`` column."""
        return F.timestamp_micros(self.step_us()).alias("t")

    def steps(self, spark) -> DataFrame:
        return spark.range(self.n_steps + 1).select(
            F.col("id").alias("__i")
        )

    def explode(self, frame: DataFrame, tau: F.Column, r_us: int):
        """``frame`` with one row per step ``__i`` whose closed window
        ``[t_i − R, t_i]`` covers the instant ``tau`` (µs) — a bounded
        fan-out of ceil(R/step) rows per input row. ``frame`` holds only
        rows whose ``tau`` lies in the grid's reach ``[start − R, end]``
        (the caller's scan bounds), so a one-step grid needs neither
        explode nor filter (that reach IS its one window) and no
        ``__i``: every step expression of the grid is a literal."""
        if self.n_steps == 0:
            return frame
        idx0, idx1 = self.step_span(tau, r_us)
        # sequence() counts DOWNWARD for idx0 > idx1 (a sample falling
        # between two step windows has an empty step set) — filter
        # before the explode.
        return frame.filter(idx0 <= idx1).withColumn(
            "__i", F.explode(F.sequence(idx0, idx1))
        )

    def step_span(self, tau: F.Column, r_us: int):
        """The first and last step index ``(idx0, idx1)`` whose closed
        window ``[t_i − R, t_i]`` covers the instant ``tau`` (µs),
        clamped to the grid: ``ceil((tau − start)/S)`` and
        ``floor((tau + R − start)/S)``. ``idx0 > idx1`` when no step
        covers it."""
        start = F.lit(self.start_us)
        # ceil((tau − start)/S) via negated floor — stays integral.
        idx0 = F.greatest(
            F.lit(0), -F.floor((tau - start) / -self.s_us).cast("long")
        )
        idx1 = F.least(
            F.lit(self.n_steps),
            F.floor((tau + F.lit(r_us) - start) / self.s_us).cast("long"),
        )
        return idx0, idx1


_OVER_TIME = {
    "avg_over_time": F.avg,
    "sum_over_time": F.sum,
    "min_over_time": F.min,
    "max_over_time": F.max,
    "count_over_time": F.count,
    # Prometheus *_over_time deviation functions use POPULATION
    # stddev/variance (prometheus/prometheus promql/functions.go
    # funcStddevOverTime), not sample.
    "stddev_over_time": F.stddev_pop,
    "stdvar_over_time": F.var_pop,
}

_AGG_FNS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "stddev": F.stddev_pop,
    "stdvar": F.var_pop,
}

# Outer range functions supported over a subquery's step samples.
SUBQUERY_OUTER = frozenset(
    list(_OVER_TIME)
    + [
        "last_over_time",
        "present_over_time",
        "quantile_over_time",
        "rate",
        "increase",
        "delta",
    ]
)


# Trigonometric / angle-conversion post-functions — one JVM expression
# each (Prometheus deg()/rad() ≡ Spark degrees()/radians()).
_TRIG_FUNCS = {
    "sin": F.sin, "cos": F.cos, "tan": F.tan,
    "asin": F.asin, "acos": F.acos, "atan": F.atan,
    "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
    "asinh": F.asinh, "acosh": F.acosh, "atanh": F.atanh,
    "deg": F.degrees, "rad": F.radians,
}


def _apply_post(
    df: DataFrame, post: list[tuple[str, float | tuple | None]]
) -> DataFrame:
    """Apply element-wise post-functions (innermost first) to ``value``.
    All stay whole-stage-codegen JVM expressions; ``ceil``/``floor``
    cast back to double (Spark returns LONG, Prometheus floats).
    ``round(v, n)`` rounds to the nearest multiple of n, ties up —
    Spark's HALF_UP matches Prometheus here."""
    if not post:
        return df
    empty = False
    col = F.col("value")
    for name, p in post:
        if name == "abs":
            col = F.abs(col)
        elif name == "ceil":
            col = F.ceil(col).cast("double")
        elif name == "floor":
            col = F.floor(col).cast("double")
        elif name == "sqrt":
            col = F.sqrt(col)
        elif name == "exp":
            col = F.exp(col)
        elif name == "ln":
            col = F.log(col)
        elif name == "log2":
            col = F.log2(col)
        elif name == "log10":
            col = F.log10(col)
        elif name == "sgn":
            col = F.signum(col)
        elif name == "round":
            col = F.round(col / F.lit(p), 0) * F.lit(p)
        elif name == "clamp_min":
            col = F.greatest(col, F.lit(p))
        elif name == "clamp_max":
            col = F.least(col, F.lit(p))
        elif name == "clamp":
            lo, hi = p
            if lo > hi:
                # Prometheus: clamp with min > max is an EMPTY vector.
                empty = True
            else:
                col = F.least(F.greatest(col, F.lit(lo)), F.lit(hi))
        elif name in _TRIG_FUNCS:
            col = _TRIG_FUNCS[name](col)
        elif name in DATE_FUNCS:
            # Calendar field of the value read as epoch seconds, in UTC
            # (the engine's session timezone — Prometheus is UTC too).
            ts = F.timestamp_seconds(col)
            if name == "minute":
                col = F.minute(ts)
            elif name == "hour":
                col = F.hour(ts)
            elif name == "day_of_week":
                # Prometheus: 0 = Sunday; Spark dayofweek: 1 = Sunday.
                col = F.dayofweek(ts) - F.lit(1)
            elif name == "day_of_month":
                col = F.dayofmonth(ts)
            elif name == "day_of_year":
                col = F.dayofyear(ts)
            elif name == "month":
                col = F.month(ts)
            elif name == "year":
                col = F.year(ts)
            else:  # days_in_month
                col = F.dayofmonth(F.last_day(ts))
    out = df.withColumn("value", col.cast("double"))
    return out.filter(F.lit(False)) if empty else out


def _apply_label_ops(df: DataFrame, ops: list[tuple[str, tuple]]) -> DataFrame:
    """Rewrite the labels map per label_replace/label_join (innermost
    first). Prometheus semantics: an absent source label reads as "",
    the regex must FULL-match or the vector passes unchanged, and an
    empty result drops the destination label. All JVM map expressions —
    no shuffle, no Python."""
    for op, args in ops:
        labels = F.col("labels")
        if op == "label_replace":
            dst, repl, src, regex = args
            src_val = F.coalesce(F.element_at(labels, src), F.lit(""))
            full = f"^(?:{regex})$"
            newv = F.regexp_replace(src_val, full, repl)
            matched = src_val.rlike(full)
        else:
            dst, sep, *srcs = args
            newv = F.concat_ws(
                sep,
                *[
                    F.coalesce(F.element_at(labels, s), F.lit(""))
                    for s in srcs
                ],
            )
            matched = F.lit(True)
        without_dst = F.map_filter(labels, lambda k, _: k != dst)
        updated = F.when(
            newv != "",
            F.map_concat(without_dst, F.create_map(F.lit(dst), newv)),
        ).otherwise(without_dst)
        df = df.withColumn(
            "labels", F.when(matched, updated).otherwise(labels)
        )
    return df


def _labels_without(without: list[str], labels_col: F.Column | None = None):
    """Canonical string of the label set minus ``without`` keys (and the
    metric name, which Prometheus aggregation always drops): sorted
    ``k="v"`` pairs — group-by key usable on both Spark and any SQL
    oracle, since Spark cannot group by a MAP column."""
    drop = list(without)
    remaining = F.map_filter(
        labels_col if labels_col is not None else F.col("labels"),
        lambda k, _: ~k.isin(drop) if drop else F.lit(True),
    )
    return F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(remaining),
                lambda e: F.concat(e.key, F.lit('="'), e.value, F.lit('"')),
            )
        ),
        ",",
    )


def _limit_agg_filter(
    out: DataFrame, eq: ExtendedQuery, extra_part: list | None = None
) -> DataFrame:
    """Deterministic series sampling for ``limitk``/``limit_ratio``
    (Prometheus experimental samplers). Selection key: the md5 hex
    digest of the series identity (sensor_id) — Prometheus' own hash is
    unspecified for clients, and md5 is reproduced bit-identically by
    any SQL oracle, so the deviation is documented rather than hidden.

    * ``limitk(k, v)``: the k series with the smallest digests per
      by/without group (row_number window — dimension-sized input).
    * ``limit_ratio(r, v)``: keep series whose digest-derived fraction
      (first 8 nibbles / 2³²) is ≤ r for r ≥ 0, > 1+r for r < 0 —
      ``limit_ratio(r, v)`` and ``limit_ratio(r-1, v)`` partition the
      vector exactly (Prometheus complement contract), map-only.
    """
    fp = F.md5(F.col("sensor_id").cast("string"))
    if eq.agg == "limitk":
        if eq.without:
            part = [_labels_without(eq.without)]
        else:
            part = [F.element_at(F.col("labels"), lbl) for lbl in eq.by]
        part = (extra_part or []) + part
        w = (
            Window.partitionBy(*part) if part else Window.partitionBy()
        ).orderBy(fp)
        return (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(eq.param))
            .drop("__rn")
        )
    frac = F.conv(F.substring(fp, 1, 8), 16, 10).cast("double") / F.lit(
        4294967296.0
    )
    r = float(eq.param)
    cond = (frac <= F.lit(r)) if r >= 0 else (frac > F.lit(1.0 + r))
    return out.filter(cond)


def _array_median(a: F.Column) -> F.Column:
    """Linear-interpolated median of a SORTED numeric array (φ=0.5 of
    Prometheus quantile / DuckDB quantile_cont): midpoint of the two
    central elements for even n, the central element for odd n."""
    n = F.size(a)
    lo = F.element_at(a, ((n + 1) / 2).cast("int"))
    hi = F.element_at(a, (n / 2 + 1).cast("int"))
    return (lo + hi) / 2


def _per_series_agg(
    scan: DataFrame,
    eq: ExtendedQuery,
    keys: tuple[str, ...],
    eval_us: F.Column,
) -> DataFrame:
    """The per-series window reduction for ``eq.func`` grouped by
    ``keys`` — (sensor_id, step), or (sensor_id,) on a one-step grid.
    One shuffle, map-side partials.

    ``eval_us`` is the step's evaluation timestamp in µs as a
    post-aggregation column expression — only ``predict_linear`` reads
    it."""
    gb = scan.groupBy(*keys)
    # First/last samples via min/max over struct(time, value):
    # lexicographic struct ordering makes the duplicate-timestamp
    # tie-break DETERMINISTIC (first → smallest value, last → largest)
    # where max_by/min_by leave it unspecified — and it is the same
    # rule the rollup-served path's edge quartet realizes
    # (query/rollup_serve.py folds the boundary bucket's emin/emax at
    # the shared boundary instant), so served == raw holds even on
    # data with repeated instants.
    sample = F.struct(F.col("time").alias("t"),
                      F.col("value").alias("v"))
    if eq.func in (None, "last_over_time"):
        return gb.agg(F.max(sample)["v"].alias("value"))
    if eq.func in ("rate", "increase", "delta"):
        first, last = F.min(sample), F.max(sample)
        span = (F.unix_micros(last["t"]) - F.unix_micros(first["t"])) / 1e6
        rise = last["v"] - first["v"]
        # when() guards the single-sample window: ANSI mode throws on
        # the 0-span division before the filter below can drop the row.
        value = (
            F.when(span > 0, rise / span) if eq.func == "rate" else rise
        )
        return (
            gb.agg(value.alias("value"), span.alias("__span"))
            .filter(F.col("__span") > 0)
            .drop("__span")
        )
    if eq.func in ("irate", "idelta"):
        # Last TWO samples per series: a per-key top-2 window. The
        # row_number + filter pair plans as WindowGroupLimit — each map
        # task keeps only its local top-2 before the shuffle, so the
        # exchange carries ≤ 2 rows per (key, input-partition), not the
        # full scan. Ties on time break by value (documented; the
        # reference has no tiebreak either, SURVEY §7.4 risk 6).
        w = Window.partitionBy(*keys).orderBy(
            F.col("time").desc(), F.col("value").desc()
        )
        top2 = scan.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= 2
        )
        span = (F.unix_micros(F.max("time")) - F.unix_micros(F.min("time"))) / 1e6
        last = F.min_by("value", "__rn")
        prev = F.max_by("value", "__rn")
        if eq.func == "irate":
            # Prometheus counter-reset handling: last < prev means the
            # counter restarted, so the rise since the reset is the last
            # value itself (idelta is a gauge function — raw difference).
            rise = F.when(last < prev, last).otherwise(last - prev)
            value = rise / span
        else:
            value = last - prev
        return (
            top2.groupBy(*keys)
            .agg(value.alias("value"), span.alias("__span"))
            .filter(F.col("__span") > 0)
            .drop("__span")
        )
    if eq.func in ("changes", "resets"):
        # Consecutive-pair comparison per series: one lag window on the
        # (key, time) sort, then a sum — the groupBy reuses the window's
        # partitioning, so the plan has a single exchange.
        w = Window.partitionBy(*keys).orderBy(
            F.col("time").asc(), F.col("value").asc()
        )
        prev = F.lag("value").over(w)
        hit = (
            (F.col("value") != prev)
            if eq.func == "changes"
            else (F.col("value") < prev)
        )
        flagged = scan.withColumn(
            "__f", (prev.isNotNull() & hit).cast("long")
        )
        return flagged.groupBy(*keys).agg(
            F.sum("__f").cast("double").alias("value")
        )
    if eq.func in ("deriv", "predict_linear"):
        # Least-squares slope over the window (Prometheus simple linear
        # regression): covar_pop/var_pop are JVM aggregates with
        # map-side partials — same single-shuffle shape as rate().
        # x is centered on the window start: regressing on raw epoch
        # seconds (~1.7e9) loses ~9 digits of covariance precision to
        # cancellation, enough to flip the 6th decimal between engines
        # (Prometheus itself centers on the first sample's timestamp
        # for the same reason).
        x0 = _epoch_us(eq.selector.start_time)
        x = (F.unix_micros(F.col("time")) - F.lit(x0)) / F.lit(1e6)
        y = F.col("value")
        agged = gb.agg(
            F.avg(x).alias("__ax"),
            F.avg(y).alias("__ay"),
            F.covar_pop(x, y).alias("__cxy"),
            F.var_pop(x).alias("__vx"),
        ).filter(F.col("__vx") > 0)
        slope = F.col("__cxy") / F.col("__vx")
        if eq.func == "deriv":
            value = slope
        else:
            eval_sec = (eval_us - F.lit(x0)) / F.lit(1e6)
            value = F.col("__ay") + slope * (
                eval_sec + F.lit(eq.func_param) - F.col("__ax")
            )
        return agged.select(*keys, value.alias("value"))
    if eq.func == "timestamp":
        # Instant-vector function: the last sample's timestamp in
        # seconds (µs precision preserved in the fraction).
        return gb.agg(
            (F.max(F.unix_micros("time")) / F.lit(1e6)).alias("value")
        )
    if eq.func == "present_over_time":
        return gb.agg(F.max(F.lit(1.0)).alias("value"))
    if eq.func == "quantile_over_time":
        phi = float(eq.func_param)
        if not 0.0 <= phi <= 1.0:
            # Prometheus: out-of-range φ yields -Inf (φ < 0) / +Inf
            # (φ > 1) for every window holding a sample; Spark's
            # percentile() would instead fail analysis on the literal.
            bound = float("-inf") if phi < 0 else float("inf")
            return gb.agg(F.max(F.lit(bound)).alias("value"))
        return gb.agg(
            F.percentile("value", F.lit(eq.func_param))
            .cast("double")
            .alias("value")
        )
    if eq.func == "mad_over_time":
        # Median absolute deviation: median(|v − median(v)|), both
        # medians linearly interpolated (Prometheus quantile(0.5)
        # ≡ DuckDB mad()). One collect per (series[, step]) window —
        # the window is sample-bounded like quantile_over_time, and
        # both medians are array HOFs over the single collected list,
        # so there is still exactly one shuffle and no Python.
        arr = gb.agg(
            F.array_sort(
                F.collect_list(F.col("value").cast("double"))
            ).alias("__v")
        )
        med = _array_median(F.col("__v"))
        dev = F.array_sort(
            F.transform(F.col("__v"), lambda x: F.abs(x - med))
        )
        return arr.select(
            *keys, _array_median(dev).cast("double").alias("value")
        )
    if eq.func in TAIL2_PARAM_RANGE_FUNCS:
        # Holt-Winters double exponential smoothing (Prometheus
        # `holt_winters` / 3.x `double_exponential_smoothing`): a
        # sequential recurrence over the window's time-ordered samples
        # — expressed as one JVM `aggregate` fold over the collected
        # array (struct accumulator ⟨s0, s1, b, i⟩), mirroring
        # Prometheus promql/functions.go funcHoltWinters: s1 seeds at
        # v[0], the trend at v[1]−v[0], and calcTrendValue leaves b
        # unchanged on the first step. Windows with < 2 samples drop.
        sf, tf = eq.func_param
        arr = gb.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("time").alias("t"),
                        F.col("value").cast("double").alias("v"),
                    )
                )
            ).alias("__s")
        )
        vals = F.transform(F.col("__s"), lambda s: s["v"])
        n = F.size(vals)
        acc0 = F.struct(
            F.lit(0.0).alias("s0"),
            F.element_at(vals, 1).alias("s1"),
            (F.element_at(vals, 2) - F.element_at(vals, 1)).alias("b"),
            F.lit(0).alias("i"),
        )

        def _hw_step(acc: F.Column, v: F.Column) -> F.Column:
            b_new = F.when(acc["i"] == 0, acc["b"]).otherwise(
                F.lit(tf) * (acc["s1"] - acc["s0"])
                + F.lit(1.0 - tf) * acc["b"]
            )
            return F.struct(
                acc["s1"].alias("s0"),
                (
                    F.lit(sf) * v
                    + F.lit(1.0 - sf) * (acc["s1"] + b_new)
                ).alias("s1"),
                b_new.alias("b"),
                (acc["i"] + F.lit(1)).alias("i"),
            )

        smoothed = F.aggregate(
            F.slice(vals, 2, n - 1), acc0, _hw_step, lambda a: a["s1"]
        )
        return arr.filter(F.size(F.col("__s")) >= 2).select(
            *keys, smoothed.cast("double").alias("value")
        )
    return gb.agg(_OVER_TIME[eq.func]("value").cast("double").alias("value"))


def evaluate_extended(
    sensors: DataFrame,
    values: DataFrame,
    eq: ExtendedQuery,
    cache: dict | None = None,
) -> DataFrame:
    """Evaluate to an instant vector: ``(sensor_id, name, labels, value)``
    — or, aggregated, one row per ``by``-group: ``(*by, value)``.

    An instant query is a one-step range query: :func:`evaluate_range`
    on the grid ``start = end = eq.eval_at`` (the parse anchor), with
    the step column dropped and :func:`sort_instant` applied.

    ``cache`` (optional) is a per-construction operand memo: callers
    evaluating SEVERAL expressions over the same (sensors, values) —
    the tagged-union registry entries, a dashboard batch — pass one
    dict so canonically-equal per-series vectors are computed once and
    shared (see evaluate_range). It must never outlive one logical
    query/request: sharing across requests would serve stale data
    after an ingest commit."""
    at = eq.eval_at
    # The step length never enters a one-step evaluation.
    out = evaluate_range(
        sensors, values, dataclasses.replace(eq, sort=None), at, at, 1.0,
        now=at, cache=cache,
    )
    return sort_instant(out.drop("t"), eq)


def sort_instant(out: DataFrame, eq) -> DataFrame:
    """``out`` (an instant vector) ordered by ``eq``'s ``sort()``/
    ``sort_desc()`` or ``sort_by_label()`` wrapper; unchanged without
    one (a BinaryQuery has none). The result is dashboard-sized —
    series or groups, never samples — so the global sort is
    presentation cost, not a scale hazard."""
    if getattr(eq, "sort", None) is None:
        return out
    if eq.sort_labels:
        # sort_by_label(_desc): lexicographic on each given label's
        # value in turn (absent labels last), sensor_id tie-break.
        cols = [
            (
                F.element_at(F.col("labels"), lbl).asc_nulls_last()
                if eq.sort == "asc"
                else F.element_at(F.col("labels"), lbl).desc_nulls_last()
            )
            for lbl in eq.sort_labels
        ]
        return out.orderBy(*cols, F.col("sensor_id"))
    direction = (
        F.col("value").asc_nulls_last()
        if eq.sort == "asc"
        else F.col("value").desc_nulls_last()
    )
    # Deterministic tie-break on sensor_id when the frame carries one
    # (the labels MAP is not orderable; aggregated frames' group keys
    # already disambiguate rows for any consumer).
    ties = ["sensor_id"] if "sensor_id" in out.columns else []
    return out.orderBy(direction, *ties)


def evaluate_binary(
    sensors: DataFrame,
    values: DataFrame,
    bq: BinaryQuery,
    cache: dict | None = None,
) -> DataFrame:
    """Evaluate a binary operation as an instant vector: the one-step
    :func:`evaluate_range_binary` at ``bq.eval_at``, step column
    dropped. Vector∘vector results key on the matching label string
    ``(labels, value)``; vector∘scalar and set operations keep the
    operand's shape."""
    at = bq.eval_at
    return evaluate_range_binary(
        sensors, values, bq, at, at, 1.0, now=at, cache=cache
    ).drop("t")


def _const_range_vector(spark, eq: ExtendedQuery, grid: _Grid) -> DataFrame:
    """``vector(s)`` / ``time()`` / a date function's default argument
    over a step grid: one series with the EMPTY label set (Prometheus)
    carrying the constant at every step — it flows through label ops,
    posts and aggregation like any other vector and costs one
    ``spark.range``. A time()-derived constant carries each step's own
    timestamp: Prometheus evaluates time() at every step, and
    repeating the parse-time ``now`` would serve a frozen clock
    (round-12 advisor)."""
    value = (
        grid.step_us("id") / F.lit(1e6)
        if eq.const_is_time
        else F.lit(eq.const)
    )
    out = spark.range(grid.n_steps + 1).select(
        F.lit(None).cast("string").alias("sensor_id"),
        F.lit(None).cast("string").alias("name"),
        F.create_map().cast("map<string,string>").alias("labels"),
        F.col("id").alias("__i"),
        value.cast("double").alias("value"),
    )
    return _finish_range(out, eq, grid)


def _apply_outer_agg(out: DataFrame, eq: ExtendedQuery) -> DataFrame:
    """The outer level of a nested aggregation, over the inner level's
    result frame. Input shapes (enforced at parse time by
    :func:`_nest_aggregation`):

    * series-shaped (inner was topk/bottomk/limitk/limit_ratio):
      carries ``(sensor_id, name, labels, value)`` — outer ``by`` keys
      come from the labels map, ``without`` canonicalizes it.
    * key-shaped (inner was a by-reduction / count_values): carries
      ``(*inner_keys, value)`` — outer ``by`` keys ARE columns.

    Either shape also carries the step ``t``; the outer level always
    groups/partitions per step. The frame is dashboard-sized (groups ×
    steps), so the window/groupBy here is presentation-scale work, not
    a shuffle of samples."""
    series_shaped = "sensor_id" in out.columns

    if eq.outer_without:
        keys = [
            _labels_without(eq.outer_without).alias("labels")
        ]
    elif series_shaped:
        keys = [
            F.element_at(F.col("labels"), lbl).alias(lbl)
            for lbl in eq.outer_by
        ]
    else:
        keys = [F.col(lbl) for lbl in eq.outer_by]

    if eq.outer_agg in ("topk", "bottomk"):
        # Selection, not reduction: keep the k extreme ROWS of the
        # inner result per (step, outer-group), preserving the inner's
        # columns. Deterministic tie-break: sensor_id when present,
        # else the inner key columns.
        order = (
            F.col("value").desc()
            if eq.outer_agg == "topk"
            else F.col("value").asc()
        )
        ties = (
            [F.col("sensor_id")]
            if series_shaped
            else [
                F.col(c)
                for c in sorted(out.columns)
                if c not in ("value", "t")
            ]
        )
        w = Window.partitionBy("t", *keys).orderBy(order, *ties)
        return (
            out.withColumn("__orn", F.row_number().over(w))
            .filter(F.col("__orn") <= int(eq.outer_param))
            .drop("__orn")
        )

    if eq.outer_agg == "quantile":
        agg_col = F.percentile("value", F.lit(eq.outer_param)).cast(
            "double"
        )
    elif eq.outer_agg == "group":
        agg_col = F.max(F.lit(1.0))
    else:
        agg_col = _AGG_FNS[eq.outer_agg]("value")
        if eq.outer_agg == "count":
            agg_col = agg_col.cast("long")
    return out.groupBy(*keys, "t").agg(agg_col.alias("value"))


def _apply_outer2(out: DataFrame, eq: ExtendedQuery) -> DataFrame:
    """The permitted THIRD nesting level (round 9): an ungrouped plain
    reduction over the level-2 topk/bottomk sampler's selected rows,
    per step. Output shape matches an ungrouped reduction (one row per
    ``t``), which every downstream consumer already handles."""
    if eq.outer2_agg is None:
        return out
    if eq.outer2_agg == "group":
        agg_col = F.max(F.lit(1.0))
    else:
        agg_col = _AGG_FNS[eq.outer2_agg]("value")
        if eq.outer2_agg == "count":
            agg_col = agg_col.cast("long")
    return out.groupBy("t").agg(agg_col.alias("value"))


def scan_window(
    eq: ExtendedQuery,
    start: dt.datetime,
    end: dt.datetime,
    now: dt.datetime | None,
) -> tuple[dt.datetime | None, dt.datetime | None]:
    """The samples :func:`evaluate_range` reads for the vector operand
    ``eq`` over the steps ``[start, end]`` — the bounds a storage layer
    passes to its partition-pruned scan. It follows the evaluator's own
    window arithmetic: each step ``t`` reads ``[t − offset − R,
    t − offset]``; a subquery evaluates its inner expression over
    ``[start − o − range, end − o]``; a fixed ``@`` evaluates once at
    its anchor. Constants read no samples: ``(None, None)``."""
    if eq.const is not None:
        return None, None
    if eq.at_fixed:
        anchor = _fixed_anchor(eq)
        return scan_window(
            dataclasses.replace(eq, at_fixed=False, sub_offset_s=0.0),
            anchor, anchor, anchor,
        )
    if eq.sub_inner is not None:
        shift = dt.timedelta(seconds=eq.sub_offset_s)
        return scan_window(
            eq.sub_inner,
            start - shift - dt.timedelta(seconds=eq.sub_range_s),
            end - shift,
            now,
        )
    offset = dt.timedelta(microseconds=_offset_us(eq, now))
    lookback = eq.selector.end_time - eq.selector.start_time
    return start - lookback - offset, end - offset


def _outer_step_agg(
    frame: DataFrame,
    eq: ExtendedQuery,
    group: list,
    carry: list,
    t_us: F.Column,
) -> DataFrame:
    """Apply ``eq.func`` — the subquery's OUTER range function — over
    each group's inner step samples (the groups carry the outer step
    index ``__i``)."""
    outer = eq.func
    grouped = frame.groupBy(*group)
    if outer in ("rate", "increase", "delta"):
        raw = grouped.agg(
            *carry,
            F.max_by("value", t_us).alias("__last"),
            F.min_by("value", t_us).alias("__first"),
            ((F.max(t_us) - F.min(t_us)) / 1e6).alias("__span_s"),
        ).filter(F.col("__span_s") > 0)
        rise = F.col("__last") - F.col("__first")
        value = rise / F.col("__span_s") if outer == "rate" else rise
        return raw.withColumn("value", value).drop(
            "__last", "__first", "__span_s"
        )
    if outer == "last_over_time":
        val = F.max_by("value", t_us)
    elif outer == "present_over_time":
        val = F.max(F.lit(1.0))
    elif outer == "quantile_over_time":
        val = F.percentile("value", F.lit(eq.func_param)).cast("double")
    else:
        val = _OVER_TIME[outer]("value")
        if outer == "count_over_time":
            val = val.cast("long")
    return grouped.agg(*carry, val.alias("value"))


def _stage_le_buckets(vec: DataFrame, by: list[str] | None):
    """Shared staging for the histogram functions: resolve the group
    (label-string for a series vector, by-keys for ``sum by (le,…)``
    output, plus the step ``t``), cast
    ``le`` to double (``+Inf`` included), and repair non-monotone
    cumulative counts with a running max. Returns ``(staged frame with
    group_names + __le + __cum, group exprs, group names)`` — one
    definition of the bucket canonicalization so quantile and fraction
    can never diverge on it (round-7 review)."""
    inf = float("inf")
    if by is None:
        le_str = F.element_at(F.col("labels"), "le")
        group = [_labels_without(["le"]).alias("labels")]
        group_names = ["labels"]
    else:
        le_str = F.col("le")
        group_names = [k for k in by if k != "le"]
        group = [F.col(k) for k in group_names]
    group = group + [F.col("t")]
    group_names = group_names + ["t"]

    le_d = F.when(le_str == "+Inf", F.lit(inf)).otherwise(
        le_str.cast("double")
    )
    staged = vec.select(*group, le_d.alias("__le"), F.col("value"))
    w_ord = Window.partitionBy(*group_names).orderBy("__le")
    cum = F.max("value").over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = staged.select(*group_names, "__le", cum.alias("__cum"))
    return staged, group, group_names


def _histogram_le_quantile(
    vec: DataFrame,
    phi: float,
    by: list[str] | None,
) -> DataFrame:
    """Prometheus-native ``histogram_quantile`` over cumulative
    ``le``-bucket series (prometheus/prometheus promql/quantile.go
    bucketQuantile): group the instant vector by its label set minus
    ``le``, repair non-monotone counts with a running max, then
    linear-interpolate within the bucket holding rank ``φ·total``.

    Prometheus edge semantics reproduced: φ<0 → -Inf, φ>1 → +Inf; a
    group with no ``+Inf`` bucket (or only that bucket) → NaN; rank in
    the ``+Inf`` bucket → the highest finite ``le``; rank in a first
    bucket whose upper bound ≤ 0 → that bound (else the lower edge is
    0).

    ``by`` None means the input is a series vector (labels map, the
    ``le`` label extracted and dropped from the output key); otherwise
    the input is ``sum by (le, …)`` output and the group is the
    remaining by-keys; either way the step ``t`` joins the group, so
    each evaluation step quantiles its own bucket snapshot. Every window
    here partitions the SERIES frame (one row per bucket series and
    step) — dimension-sized, so the sort-within-group work is trivial
    at any corpus scale."""
    inf = float("inf")
    staged, group, group_names = _stage_le_buckets(vec, by)

    if phi != phi or phi < 0 or phi > 1:  # NaN / out-of-range φ
        edge = float("nan") if phi != phi else (-inf if phi < 0 else inf)
        return (
            vec.select(*group)
            .distinct()
            .select(*group_names, F.lit(edge).alias("value"))
        )

    w_ord = Window.partitionBy(*group_names).orderBy("__le")
    w_all = Window.partitionBy(*group_names)
    staged = staged.select(
        *group_names,
        "__le",
        "__cum",
        F.max("__cum").over(w_all).alias("__total"),
        F.max((F.col("__le") == inf).cast("int")).over(w_all).alias(
            "__has_inf"
        ),
        F.lag("__le").over(w_ord).alias("__ple"),
        F.lag("__cum").over(w_ord).alias("__pcum"),
    )
    rank = F.lit(phi) * F.col("__total")
    chosen = (
        staged.filter(F.col("__cum") >= rank)
        .withColumn("__rn", F.row_number().over(w_ord))
        .filter(F.col("__rn") == 1)
    )
    start = F.when(F.col("__pcum").isNull(), F.lit(0.0)).otherwise(
        F.col("__ple")
    )
    rank_adj = rank - F.coalesce(F.col("__pcum"), F.lit(0.0))
    count = F.col("__cum") - F.coalesce(F.col("__pcum"), F.lit(0.0))
    value = (
        F.when(F.col("__has_inf") == 0, F.lit(float("nan")))
        # Zero observations: Prometheus returns NaN; without this arm
        # the 0/0 division below yields SQL NULL, not NaN.
        .when(F.col("__total") == 0, F.lit(float("nan")))
        .when(
            F.col("__le") == inf,
            F.coalesce(F.col("__ple"), F.lit(float("nan"))),
        )
        .when(
            F.col("__pcum").isNull() & (F.col("__le") <= 0), F.col("__le")
        )
        .otherwise(start + (F.col("__le") - start) * rank_adj / count)
    )
    return chosen.select(*group_names, value.alias("value"))


def _histogram_le_fraction(
    vec: DataFrame,
    lower: float,
    upper: float,
    by: list[str] | None,
) -> DataFrame:
    """``histogram_fraction(lower, upper, b)`` over cumulative
    ``le``-bucket series: the estimated fraction of observations in
    [lower, upper] — ``(cdf(upper) − cdf(lower)) / total`` with linear
    interpolation inside the bucket containing each bound. Upstream
    Prometheus defines this function for NATIVE histograms only; this
    is the classic-bucket analogue, built on the same conventions as
    :func:`_histogram_le_quantile` (running-max monotonicity repair,
    first-bucket lower edge 0 unless its ``le`` ≤ 0, a bound past the
    highest finite ``le`` reads the last finite bucket's count — the
    +Inf bucket's mass is unlocatable). No ``+Inf`` bucket or zero
    observations → NaN; the result clamps to [0, 1] (a reversed bound
    pair reads 0).

    Plan shape: one dimension-sized window for the cumulative repair,
    then each group's buckets fold into ONE sorted array row — both
    bound lookups are array expressions over it, entirely in JVM."""
    inf = float("inf")
    staged, _, group_names = _stage_le_buckets(vec, by)
    agged = staged.groupBy(*group_names).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("__le").alias("le"), F.col("__cum").alias("cum")
                )
            )
        ).alias("__bs"),
        F.max((F.col("__le") == inf).cast("int")).alias("__has_inf"),
        F.max("__cum").alias("__total"),
    )

    def cdf(bound: float) -> F.Column:
        b = F.lit(float(bound))
        bs = F.col("__bs")
        hits = F.filter(bs, lambda s: s["le"] >= b)
        nprev = F.size(bs) - F.size(hits)
        first = F.element_at(hits, 1)
        prev = F.element_at(bs, F.greatest(nprev, F.lit(1)))
        prev_cum = F.when(nprev >= 1, prev["cum"]).otherwise(F.lit(0.0))
        start = F.when(nprev >= 1, prev["le"]).otherwise(F.lit(0.0))
        t = (b - start) / (first["le"] - start)
        t = F.least(F.greatest(t, F.lit(0.0)), F.lit(1.0))
        interp = prev_cum + (first["cum"] - prev_cum) * t
        return (
            F.when(first["le"] == inf, prev_cum)
            .when(
                (nprev == 0) & (first["le"] <= 0),
                F.when(b >= first["le"], first["cum"]).otherwise(F.lit(0.0)),
            )
            .otherwise(interp)
        )

    frac = (cdf(upper) - cdf(lower)) / F.col("__total")
    frac = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
    value = (
        F.when(F.col("__has_inf") == 0, F.lit(float("nan")))
        .when(F.col("__total") == 0, F.lit(float("nan")))
        .otherwise(frac)
    )
    return agged.select(
        *group_names, value.cast("double").alias("value")
    )


def _fixed_anchor(eq: ExtendedQuery) -> dt.datetime:
    """The end of a fixed-``@`` window: the subquery's (@ − offset)
    grid end, or the selector's window end with its offset folded in."""
    return eq.sub_eval if eq.sub_inner is not None else eq.selector.end_time


def evaluate_at_anchor(eq: ExtendedQuery, grid: _Grid, evaluate) -> DataFrame:
    """A fixed ``@`` anchor is constant over the range: ``evaluate(e,
    at)`` evaluates ``e`` (``eq`` with the anchor cleared) once, as a
    one-step grid at the anchor ``at``, and that answer repeats at
    every step of ``grid``. Raw and rollup-served evaluation share this
    rule."""
    anchor = _fixed_anchor(eq)
    fixed = evaluate(
        dataclasses.replace(eq, at_fixed=False, sub_offset_s=0.0), anchor
    )
    keep = [c for c in fixed.columns if c not in ("t", "value")]
    if grid.n_steps == 0:
        return fixed.select(*keep, grid.t_col(), "value")
    # The (series-sized) answer repeats across the bounded step grid
    # via a broadcast cross join — no per-step work.
    steps = grid.steps(fixed.sparkSession).select(grid.t_col())
    return fixed.drop("t").crossJoin(F.broadcast(steps)).select(
        *keep, "t", "value"
    )


def evaluate_range(
    sensors: DataFrame,
    values: DataFrame,
    eq: ExtendedQuery,
    start: dt.datetime,
    end: dt.datetime,
    step_seconds: float,
    now: dt.datetime | None = None,
    cache: dict | None = None,
) -> DataFrame:
    """Prometheus range query — the one evaluator: evaluate ``eq`` at
    every step in [start, end] (the matrix selector's range — or the
    1 h instant lookback — slides with each step). Output adds a ``t``
    column (the step timestamp); aggregations group per (labels…, t).
    An instant query is the grid ``start = end = T`` (see
    :func:`evaluate_extended`).

    Plan shape: each sample is exploded to the step indices whose
    window [t-R, t] covers it — a bounded fan-out of ceil(R/step) rows
    per sample (the classic sliding-window-as-explode; a one-step grid
    is a plain filter) — then the per-series reduction runs grouped by
    (series, step). One shuffle keyed (sensor, step) with map-side
    partials; no per-step jobs, no driver loop. Range endpoints are
    inclusive-both, matching the engine's Q5 time-range semantics
    (Prometheus itself uses a left-open window).

    ``now`` (the selector's parse-time evaluation anchor) activates the
    selector's ``offset`` modifier: offset = now − selector end, and
    each step ``t`` then evaluates over [t − offset − R, t − offset] —
    implemented by shifting the sample clock by +offset before the
    step-index math, so the explode/reduce shape is unchanged. Without
    ``now`` the offset cannot be derived and is ignored (pre-existing
    registry callers evaluate offset-free selectors).

    Constants (``vector()``, ``time()``, argless date functions) read
    no samples: one empty-label series per step. A fixed ``@`` anchor
    is constant over the range: the expression is evaluated once, as a
    one-step grid at the anchor, and that answer repeats at every step.
    ``sort()`` has no defined order across steps and is rejected."""
    if eq.sort is not None:
        raise PromQLError(
            "call",
            "sort()/sort_desc() in range queries has no defined order "
            "across steps (Prometheus ignores it there); sort the "
            "instant query instead.",
        )
    grid = _Grid.of(start, end, step_seconds)
    if eq.at_fixed:
        return evaluate_at_anchor(
            eq, grid,
            lambda e, at: evaluate_range(
                sensors, values, e, at, at, step_seconds, now=at,
                cache=cache,
            ),
        )
    if eq.const is not None:
        return _const_range_vector(sensors.sparkSession, eq, grid)
    if _is_hist(eq):
        return _evaluate_range_histogram(
            sensors, values, eq, start, end, step_seconds, now, cache
        )
    if eq.sub_inner is not None:
        return _evaluate_range_subquery(
            sensors, values, eq, grid, now, cache
        )
    q = eq.selector
    off_us = _offset_us(eq, now)
    if eq.func in ABSENT_FUNCS:
        selected = select_sensors(sensors, q.matchers)
        return _evaluate_range_absent(
            _covered_steps(values, selected, q, grid, off_us), eq, grid
        )

    # Operand memo: the per-(series, step) frame for an identical
    # (selector, func, grid) is built once per construction context
    # (``cache`` is scoped to a single query construction — never
    # across calls) and MATERIALIZED via a lazy localCheckpoint. A
    # tagged union whose cases repeat an operand (rate(click[31d])
    # appears in all 7 binary_ratio cases) otherwise re-executes the
    # sample scan + per-series reduction per branch: AQE's stage cache
    # does not reuse canonically-equal exchanges across union branches
    # (measured in round 13: 97 jobs/2179 tasks vs 16/789 with static
    # ReuseExchange). The checkpointed frame is SERIES-sized
    # (post-reduction) — the only shape that is sane to persist at
    # 100 TB; raw scans are never cached. The key excludes every
    # post-reduction field (agg/by/post/…) — those are re-applied per
    # consumer by _finish_range.
    key = (
        "series", repr(q), eq.func, repr(eq.func_param),
        grid.start_us, grid.s_us, grid.n_steps, off_us,
    )
    out = cache.get(key) if cache is not None else None
    if out is None:
        selected = select_sensors(sensors, q.matchers)
        # One step: the reduction keys on the series alone — a key the
        # planner knows is unique per series, which keeps the metadata
        # join's size estimate series-sized and the joins above it
        # broadcast.
        per_step = _per_series_agg(
            _covered_steps(values, selected, q, grid, off_us), eq,
            keys=("sensor_id", "__i") if grid.n_steps else ("sensor_id",),
            eval_us=grid.step_us(),
        )
        out = per_step.join(
            F.broadcast(selected.select("sensor_id", "name", "labels")),
            "sensor_id",
        )
        if cache is not None:
            out = out.localCheckpoint(eager=False)
            cache[key] = out
    return _finish_range(out, eq, grid)


def _covered_steps(
    values: DataFrame,
    selected: DataFrame,
    q: ParsedQuery,
    grid: _Grid,
    off_us: int,
) -> DataFrame:
    """The matched samples, one row per step ``__i`` whose window
    ``[t − offset − R, t − offset]`` holds the sample (no ``__i`` on a
    one-step grid): the selector's sensors semi-joined onto a scan
    pruned to the grid's reach."""
    offset = dt.timedelta(microseconds=off_us)
    lookback = q.end_time - q.start_time
    scan = values.join(
        F.broadcast(selected.select("sensor_id")), "sensor_id", "leftsemi"
    )
    scan = time_range(
        scan, grid.start - lookback - offset, grid.end - offset
    )
    return grid.explode(
        scan,
        F.unix_micros("time") + F.lit(off_us),
        lookback // dt.timedelta(microseconds=1),
    )


def _finish_range(out: DataFrame, eq: ExtendedQuery, grid: _Grid) -> DataFrame:
    """Shared tail over any per-(series, step) frame carrying
    ``(sensor_id, name, labels, value)`` and, on a multi-step grid, the
    step index ``__i`` — the raw-scan, constant, subquery and
    rollup-served paths all end here: label ops, posts and the
    aggregation step(s), per step. A nested aggregation's outer
    level applies AFTER the inner one and its wrappers (parse order:
    inner agg → post → outer agg → outer_post)."""
    res = _finish_range_core(out, eq, grid)
    if eq.outer_agg is not None:
        res = _apply_post(
            _apply_outer2(_apply_outer_agg(res, eq), eq), eq.outer_post
        )
    return res


def _finish_range_core(
    out: DataFrame, eq: ExtendedQuery, grid: _Grid
) -> DataFrame:
    t_col = grid.t_col()
    if eq.label_ops:
        out = _apply_label_ops(out, eq.label_ops)
    if eq.series_post:
        out = _apply_post(out, eq.series_post)
    if eq.agg is None:
        return _apply_post(
            out.select("sensor_id", "name", "labels", t_col, "value"),
            eq.post,
        )
    if eq.agg == "count_values":
        # Group by the sample value itself (plus any by-labels); the
        # value column becomes the count. The key keeps its double type
        # instead of Prometheus' stringified label value — engine-
        # portable (no float-formatting divergence).
        keys = [F.col("value").alias(eq.label_param)] + [
            F.element_at(F.col("labels"), lbl).alias(lbl) for lbl in eq.by
        ]
        return _apply_post(
            out.groupBy(*keys, t_col).agg(
                F.count("*").cast("long").alias("value")
            ),
            eq.post,
        )
    if eq.agg in ("topk", "bottomk"):
        # Series selection, not aggregation: the k extreme series PER
        # STEP (and per by-group). The window input is series × steps —
        # bounded by the step count, never by the sample count.
        order = (
            F.col("value").desc() if eq.agg == "topk" else F.col("value").asc()
        )
        part = [grid.step_us()] + [
            F.element_at(F.col("labels"), lbl) for lbl in eq.by
        ]
        w = Window.partitionBy(*part).orderBy(order, F.col("sensor_id"))
        return _apply_post(
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(eq.param))
            .select("sensor_id", "name", "labels", t_col, "value"),
            eq.post,
        )
    if eq.agg in LIMIT_AGGS:
        # Same deterministic sampler PER STEP (limitk windows partition
        # on the step index too; limit_ratio is step-independent).
        picked = _limit_agg_filter(out, eq, extra_part=[grid.step_us()])
        return _apply_post(
            picked.select("sensor_id", "name", "labels", t_col, "value"),
            eq.post,
        )
    if eq.agg == "quantile":
        agg_col = F.percentile("value", F.lit(eq.param)).cast("double")
    elif eq.agg == "group":
        agg_col = F.max(F.lit(1.0))
    else:
        agg_col = _AGG_FNS[eq.agg]("value")
        if eq.agg == "count":
            agg_col = agg_col.cast("long")
    if eq.without:
        keys = [_labels_without(eq.without).alias("labels")]
    else:
        keys = [
            F.element_at(F.col("labels"), lbl).alias(lbl) for lbl in eq.by
        ]
    return _apply_post(
        out.groupBy(*keys, t_col).agg(agg_col.alias("value")), eq.post
    )


def _evaluate_range_absent(
    covered: DataFrame, eq: ExtendedQuery, grid: _Grid
) -> DataFrame:
    """``absent(m{…})`` / ``absent_over_time(m[5m])``: one row ``(labels,
    t, 1.0)`` for every step whose window contains NO matching sample —
    the Prometheus alerting primitive for dead targets, which Grafana
    draws as a "gap detector". The output labels are the selector's
    EQUALITY matchers (prometheus promql/functions.go
    createLabelsForAbsentFunction).

    Plan: ``covered`` (the matched samples per covering step) reduces to
    the present steps, and the bounded step grid anti-joins against
    them on the step — sample-grain data never crosses the join. On a
    one-step grid the present set is a LIMIT-1 probe that stops at the
    first matching sample (no distinct, no full scan)."""
    from sensapp_spark.operators.matchers import MatcherType

    steps = grid.steps(covered.sparkSession)
    if grid.n_steps:
        present = covered.select("__i").distinct()
        missing = steps.join(present, "__i", "left_anti")
    else:
        missing = steps.join(covered.limit(1), F.lit(True), "left_anti")
    pairs = sorted(
        (m.name, m.value)
        for m in eq.selector.matchers
        if m.name != "__name__" and m.matcher_type is MatcherType.EQUAL
    )

    # Escape backslash/quote in values so the emitted label set stays a
    # well-formed k="v" list (matcher values may contain either).
    def _esc(v: str) -> str:
        return v.replace("\\", "\\\\").replace('"', '\\"')

    lbl_str = ",".join(f'{k}="{_esc(v)}"' for k, v in pairs)
    return _apply_post(
        missing.select(
            F.lit(lbl_str).alias("labels"), grid.t_col(),
            F.lit(1.0).alias("value"),
        ),
        eq.post,
    )


def _evaluate_range_histogram(
    sensors: DataFrame,
    values: DataFrame,
    eq: ExtendedQuery,
    start: dt.datetime,
    end: dt.datetime,
    step_seconds: float,
    now: dt.datetime | None,
    cache: dict | None,
) -> DataFrame:
    """``histogram_quantile``/``histogram_fraction``: the bucket
    expression is range-evaluated first (one bounded explode, per the
    standard path), then each step's bucket snapshot is quantiled
    independently — the cumulative-bucket interpolation runs per
    (group, t), entirely in JVM expressions over the dimension×steps
    frame.

    The enclosing agg (if any) is the OUTER one — an aggregated INNER
    (sum by (le,…)) travels as eq.agg only when no outer agg exists
    (the parser rejects agg-over-agg). The inner evaluation applies
    ONLY hist_inner_post (functions inside the argument, over bucket
    values); everything wrapping the quantile — series_post (posts the
    AGG branch lifted off the wrapper), the outer agg, and eq.post —
    applies AFTERWARDS in parse order: quantile → series_post → agg →
    post."""
    inner_agg = eq.agg is not None and "le" in eq.by
    vec = evaluate_range(
        sensors,
        values,
        dataclasses.replace(
            eq,
            hist_quantile=None,
            hist_fraction=None,
            post=eq.hist_inner_post,
            **(
                {}
                if inner_agg
                else {"agg": None, "param": None, "by": [],
                      "without": [], "series_post": []}
            ),
        ),
        start,
        end,
        step_seconds,
        now=now,
        cache=cache,
    )
    by = eq.by if inner_agg else None
    if eq.hist_quantile is not None:
        hq = _histogram_le_quantile(vec, eq.hist_quantile, by=by)
    else:
        hq = _histogram_le_fraction(vec, *eq.hist_fraction, by=by)
    if not inner_agg and eq.series_post:
        hq = _apply_post(hq, eq.series_post)
    if eq.agg is not None and not inner_agg:
        # Ungrouped outer aggregation over the quantile vector, PER
        # STEP (max(histogram_quantile(…))) — grouped outer
        # aggregation is parse-rejected.
        if eq.agg == "quantile":
            agg_col = F.percentile("value", F.lit(eq.param)).cast("double")
        else:
            agg_col = _AGG_FNS[eq.agg]("value")
            if eq.agg == "count":
                agg_col = agg_col.cast("long")
        hq = hq.groupBy("t").agg(agg_col.alias("value"))
    return _apply_post(hq, eq.post)


def _evaluate_range_subquery(
    sensors: DataFrame,
    values: DataFrame,
    eq: ExtendedQuery,
    grid: _Grid,
    now: dt.datetime | None,
    cache: dict | None,
) -> DataFrame:
    """Prometheus subquery ``f(expr[range:step] offset o)``: the inner
    expression is range-evaluated ONCE over the widened window
    [start − o − range, end − o] at the SUBQUERY's step resolution,
    then each outer step ``T`` applies the OUTER range function
    ``eq.func`` over the inner samples with ``t ∈ [T − o − range,
    T − o]`` — a second bounded explode, this time over the
    dimension×inner-steps frame, never over raw samples. A
    series-shaped inner (unaggregated / topk / bottomk) keeps
    ``(sensor_id, name, labels)`` so enclosing aggregations compose;
    an aggregated inner keeps its group keys.

    Anchoring deviation (documented, like the inclusive range
    endpoints): the inner grid anchors at ``start − o − range`` and is
    SHARED by all outer steps, while Prometheus aligns subquery steps
    to ABSOLUTE multiples of the step; when the outer step is a
    multiple of the inner step the grids coincide, and otherwise the
    sample clock can be phase-shifted vs upstream by up to one step."""
    shift = dt.timedelta(seconds=eq.sub_offset_s)
    widen = dt.timedelta(seconds=eq.sub_range_s)
    steps = evaluate_range(
        sensors, values, eq.sub_inner,
        grid.start - shift - widen, grid.end - shift, eq.sub_step_s,
        now=now, cache=cache,
    )
    # Shifted inner clock: τ = t + o puts the windows at [T − range, T].
    tau = F.unix_micros("t") + F.lit(int(eq.sub_offset_s * 1_000_000))
    exploded = grid.explode(steps, tau, int(eq.sub_range_s * 1_000_000))
    step = ["__i"] if grid.n_steps else []
    if "sensor_id" in steps.columns:
        carry = [
            F.first("name").alias("name"),
            F.first("labels").alias("labels"),
        ]
        out = _outer_step_agg(exploded, eq, ["sensor_id", *step], carry, tau)
        return _finish_range(out, eq, grid)
    # Aggregated-inner subquery: the group keys ride along; the
    # (parse-rejected) enclosing aggregation never applies.
    group = [c for c in steps.columns if c not in ("t", "value")] + step
    out = _outer_step_agg(exploded, eq, group, [], tau)
    keys = [c for c in out.columns if c not in ("value", "__i")]
    return _apply_post(out.select(*keys, grid.t_col(), "value"), eq.post)


def _pdiv(lc: F.Column, rc: F.Column) -> F.Column:
    """PromQL (IEEE-754) division: x/0 = ±Inf, 0/0 = NaN — Spark 4's
    default ANSI mode instead THROWS on a zero divisor, which a query
    engine must never do because one zero-valued series aborts the
    whole query (bit us live: a 2-day rate window with equal first and
    last samples is a 0 denominator). NaN divisors fall through to the
    plain division (NaN != 0 is true under Spark's NaN ordering)."""
    return F.when(rc != 0, lc / rc).otherwise(
        # NaN first: Spark's NaN ordering sorts NaN greater than every
        # number, so without this branch NaN/0 would take the lc > 0
        # arm and return +Inf where IEEE-754 (and Prometheus) give NaN.
        F.when(F.isnan(lc), F.lit(float("nan")))
        .when(lc > 0, F.lit(float("inf")))
        .when(lc < 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan")))
    )


def _pmod(lc: F.Column, rc: F.Column) -> F.Column:
    """PromQL modulo (Go math.Mod): x % 0 = NaN, never an ANSI error;
    otherwise Spark's fmod already matches (sign of the dividend)."""
    return F.when(rc != 0, lc % rc).otherwise(F.lit(float("nan")))


def _matching_key(on: list[str], ignoring: list[str]) -> F.Column:
    """The one-to-one matching key: canonical string of ``on`` labels
    (absent label ⇒ empty value, Prometheus semantics) or of the full
    label set minus ``ignoring`` (metric name always excluded)."""
    if on:
        parts = [
            F.concat(
                F.lit(f'{k}="'),
                F.coalesce(F.element_at(F.col("labels"), k), F.lit("")),
                F.lit('"'),
            )
            for k in sorted(on)
        ]
        return F.concat_ws(",", *parts)
    return _labels_without(ignoring)


def evaluate_range_binary(
    sensors: DataFrame,
    values: DataFrame | None,
    bq: BinaryQuery,
    start: dt.datetime,
    end: dt.datetime,
    step_seconds: float,
    now: dt.datetime | None = None,
    side_eval=None,
    cache: dict | None = None,
) -> DataFrame:
    """Binary operations between two vectors, or a vector and a scalar
    — the Grafana ratio panel: evaluate both operands at every step,
    then apply the operation PER STEP. An instant query is the one-step
    grid (see :func:`evaluate_binary`).

    * Vector∘vector one-to-one matching: series pair up on their full
      label set (metric name dropped), restricted by ``on``/
      ``ignoring``, joined on (key, t); the result is ``(labels, t,
      value)`` keyed on the matching label string. Both operands are
      series-sized (post per-series reduction), so the equality join
      is dimension-sized — AQE is free to broadcast it. Many-to-one
      matches (duplicate keys on a side) multiply rows; Prometheus
      rejects them at runtime, here they are documented as undefined
      instead of paying a duplicate check.
    * Vector∘scalar keeps the vector's shape; ``scalar(expr)`` reduces
      per step (NaN unless exactly one series at that step) and joins
      on t; ``time()`` is each step's own timestamp.
    * Comparisons follow Prometheus: without ``bool`` they FILTER the
      left vector (value unchanged); with ``bool`` every series
      survives with value 1.0/0.0.
    * ``and``/``unless``/``or`` become left-semi / left-anti joins / a
      union with an anti-join on (key, t) — no value columns cross
      sides.
    * ``group_left``/``group_right`` many-to-one matching (the
      info-metric ratio panel) joins per (match key, t).

    ``side_eval(eq) -> DataFrame`` evaluates one vector operand to its
    per-step frame — the HTTP route passes a callback that serves a
    grain-compatible side from the MAINTAINED rollup
    (query/rollup_serve.py) and falls back to the raw
    ``evaluate_range``; the default evaluates raw against ``values``.
    Each operand therefore picks its own fastest exact path."""
    if side_eval is None:
        def side_eval(eq):
            return evaluate_range(
                sensors, values, eq,
                start=start, end=end, step_seconds=step_seconds,
                now=now, cache=cache,
            )

    _validate_binary(bq)
    grid = _Grid.of(start, end, step_seconds)

    def _frame(side) -> DataFrame:
        if isinstance(side, BinaryQuery):
            return evaluate_range_binary(
                sensors, values, side, start, end, step_seconds,
                now=now, side_eval=side_eval, cache=cache,
            )
        if side.const is not None:
            # Constant-vector operand ('x or vector(0)'): evaluated
            # here, never through side_eval — the constant needs no
            # scan, and so no rollup lookup either.
            return _const_range_vector(sensors.sparkSession, side, grid)
        return side_eval(side)

    def _key(frame: DataFrame) -> F.Column:
        """The matching key for one operand frame. A string-labeled
        frame (nested arithmetic result) IS its full-label canonical
        key; a label-LESS frame (a global aggregation like ``sum(a)``
        — one row per step, Prometheus' empty label set) keys on the
        empty string. on/ignoring cannot re-address labels inside
        either shape, so explicit matching over them is didactic."""
        kind = dict(frame.dtypes).get("labels")
        if kind == "string" or kind is None:
            if bq.on or bq.ignoring:
                raise PromQLError(
                    "binary",
                    "on/ignoring over a parenthesized-binary or "
                    "globally-aggregated operand is not supported — "
                    "its result keys on its full (possibly empty) "
                    "label set; put the matching clause inside the "
                    "parentheses instead.",
                )
            return F.col("labels") if kind else F.lit("")
        return _matching_key(bq.on, bq.ignoring)

    def apply(lc: F.Column, rc: F.Column) -> F.Column:
        # Spark's % on doubles is Java fmod — truncated toward zero,
        # sign of the dividend, same as Go math.Mod (Prometheus %
        # semantics); _pdiv/_pmod add the IEEE zero-divisor cases ANSI
        # mode would otherwise throw on, aborting the whole query.
        return {
            "+": lc + rc, "-": lc - rc, "*": lc * rc,
            "/": _pdiv(lc, rc),
            "%": _pmod(lc, rc), "^": F.pow(lc, rc),
            "atan2": F.atan2(lc, rc),
            ">": lc > rc, "<": lc < rc, ">=": lc >= rc,
            "<=": lc <= rc, "==": lc == rc, "!=": lc != rc,
        }[bq.op]

    if bq.op in _SET_OPS:
        left, right = _frame(bq.left), _frame(bq.right)
        lk = left.withColumn("__k", _key(left))
        rk = right.select(_key(right).alias("__k"), "t").distinct()
        cols = [
            c for c in ("sensor_id", "name", "labels", "t", "value")
            if c in left.columns
        ]
        if bq.op == "and":
            return lk.join(rk, ["__k", "t"], "leftsemi").select(*cols)
        if bq.op == "unless":
            return lk.join(rk, ["__k", "t"], "leftanti").select(*cols)
        # or: all left series, plus right series whose key matches no
        # left series at that step. Mixed shapes (one side a
        # string-labeled nested result) canonicalize BOTH sides to
        # (labels, t, value) so the union is well-typed.
        mixed = dict(left.dtypes).get("labels") != dict(
            right.dtypes
        ).get("labels")
        lkey, rkey = _key(left), _key(right)
        if mixed:
            left = left.select(lkey.alias("labels"), "t", "value")
            right = right.select(rkey.alias("labels"), "t", "value")
            lkey = rkey = F.col("labels")
            cols = ["labels", "t", "value"]
        rcols = [c for c in cols if c in right.columns]
        lkeys = left.select(lkey.alias("__k"), "t").distinct()
        extra = (
            right.withColumn("__k", rkey)
            .join(lkeys, ["__k", "t"], "leftanti")
            .select(*rcols)
        )
        return left.select(*cols).unionByName(extra)

    if isinstance(bq.left, (float, ScalarOf)) or isinstance(
        bq.right, (float, ScalarOf)
    ):
        scalar_left = isinstance(bq.left, (float, ScalarOf))
        eq = bq.right if scalar_left else bq.left
        sc = bq.left if scalar_left else bq.right
        out = _frame(eq)
        if isinstance(sc, ScalarOf):
            # scalar(v) PER STEP: the inner vector reduces to one value
            # per t and joins back on t — step-count-sized,
            # broadcastable. A step where the inner vector is empty
            # has no reduced row: the left join reads NaN there
            # (Prometheus: scalar() of an empty vector is NaN). On one
            # step a global reduction is that one row (NaN when empty)
            # and needs no second shuffle on the step.
            inner = _frame(sc.eq)
            stats = (F.count("*").alias("__n"), F.first("value").alias("__v"))
            if grid.n_steps:
                reduced = inner.groupBy("t").agg(*stats)
                out = out.join(F.broadcast(reduced), "t", "left")
            else:
                out = out.crossJoin(F.broadcast(inner.agg(*stats)))
            sc_col = F.when(F.col("__n") == 1, F.col("__v")).otherwise(
                F.lit(float("nan"))
            )
        elif isinstance(sc, TimeScalar):
            # time() PER STEP: the step grid's own timestamp, never
            # the parse-time anchor repeated (Prometheus evaluates
            # time() at each step).
            sc_col = F.unix_micros(F.col("t")) / F.lit(1e6)
        else:
            sc_col = F.lit(sc)
        res = (
            apply(sc_col, F.col("value"))
            if scalar_left
            else apply(F.col("value"), sc_col)
        )
        # Every series column of the operand: a by-grouped aggregate
        # keys on its group columns, not on sensor_id/name/labels.
        cols = [
            c for c in out.columns if c not in ("t", "value", "__n", "__v")
        ]
        if bq.op in _CMP_OPS:
            if bq.bool_mode:
                return out.select(
                    *cols, "t", res.cast("double").alias("value")
                )
            return out.filter(res).select(*cols, "t", "value")
        return out.select(*cols, "t", res.alias("value"))

    if bq.group_mode is not None:
        # group_left/group_right PER STEP: the many-to-one join keyed
        # (match key, t); the duplicate-one-side guard partitions per
        # (key, step).
        one_aggregated = _validate_group_shapes(bq)
        many_eq = bq.left if bq.group_mode == "left" else bq.right
        one_eq = bq.right if bq.group_mode == "left" else bq.left
        return _group_join(
            _frame(many_eq), _frame(one_eq), bq, apply, one_aggregated
        )

    left, right = _frame(bq.left), _frame(bq.right)
    lk = left.select(
        _key(left).alias("labels"), "t", F.col("value").alias("__lv")
    )
    rk = right.select(
        _key(right).alias("labels"), "t", F.col("value").alias("__rv")
    )
    joined = lk.join(rk, ["labels", "t"])
    if bq.op in _CMP_OPS:
        cond = apply(F.col("__lv"), F.col("__rv"))
        if bq.bool_mode:
            return joined.select(
                "labels", "t", cond.cast("double").alias("value")
            )
        return joined.filter(cond).select(
            "labels", "t", F.col("__lv").alias("value")
        )
    return joined.select(
        "labels", "t", apply(F.col("__lv"), F.col("__rv")).alias("value")
    )


def _validate_binary(bq: BinaryQuery) -> None:
    """The operand-shape rules of one binary operation, checked before
    any frame is built. Vector operands must evaluate to label-map
    series vectors (or scalars): a histogram-function result keys on a
    canonical label STRING, and a nested aggregation or an
    aggregated-inner subquery keeps its group columns — any of them
    would crash the matching-key expression with an opaque
    AnalysisException, so they are rejected didactically up front.
    Nested BinaryQuery operands are checked by their own recursion."""
    sides = [
        s for s in (bq.left, bq.right)
        if not isinstance(s, (float, ScalarOf, BinaryQuery))
    ]
    for side_eq in sides:
        if _is_hist(side_eq):
            raise PromQLError(
                "binary",
                "histogram-function operands in binary operations "
                "are not supported; compute them separately.",
            )
        if side_eq.func in ABSENT_FUNCS:
            raise PromQLError(
                "binary",
                f"{side_eq.func}() operands in binary operations are "
                "not supported; alert on the absent vector directly.",
            )
        if side_eq.outer_agg is not None or (
            side_eq.sub_inner is not None
            and side_eq.sub_inner.outer_agg is not None
        ):
            # The subquery case: avg_over_time(sum(topk(2, m))[10m:5m])
            # loses the series shape even though sub_inner.agg ('topk')
            # alone would pass the check below (round-8 review).
            raise PromQLError(
                "binary",
                "Nested-aggregation operands in binary operations are "
                "not supported; compute the sides separately.",
            )
        if side_eq.sub_inner is not None and side_eq.sub_inner.agg not in (
            None, "topk", "bottomk"
        ):
            # topk/bottomk inners stay series-shaped — only true
            # aggregations lose the label map.
            raise PromQLError(
                "binary",
                "Aggregated-inner subquery operands in binary "
                "operations are not supported; use a series-shaped "
                "subquery or aggregate the result.",
            )
    if bq.op in _SET_OPS:
        if any(s.agg is not None for s in sides):
            raise PromQLError(
                "binary",
                f"'{bq.op}' operates on series vectors; aggregated "
                "operands have no series identity to match on.",
            )
        return
    if bq.group_mode is not None or any(
        isinstance(s, (float, ScalarOf)) for s in (bq.left, bq.right)
    ):
        # vector∘scalar keeps any vector shape; group_left/right has
        # its own rules (_validate_group_shapes).
        return
    for side_eq in sides:
        if side_eq.agg not in (None, "topk", "bottomk") and (
            # A GLOBAL reduction (no by/without — round 11) is
            # Prometheus' one-row empty-label vector: sum(a) / sum(b)
            # joins on the empty key, the dashboard ratio shape.
            # count_values is excluded: its rows differ only in the
            # value-label column, which the empty key cannot see.
            side_eq.by or side_eq.without or side_eq.agg == "count_values"
        ):
            raise PromQLError(
                "binary",
                "by/without-grouped operands in vector-to-vector "
                "binary operations are not supported (their result "
                "keys on group columns, not a label set); use "
                "'on (…)' with group_left/group_right, or aggregate "
                "the result instead.",
            )


def _validate_group_shapes(bq: BinaryQuery) -> bool:
    """The group_left/group_right operand-shape rules; returns
    one_aggregated."""
    many_eq = bq.left if bq.group_mode == "left" else bq.right
    one_eq = bq.right if bq.group_mode == "left" else bq.left
    if many_eq.agg not in (None, "topk", "bottomk"):
        raise PromQLError(
            "binary",
            f'the group_{bq.group_mode} "many" side must be a series '
            "vector; aggregate the RESULT instead.",
        )
    one_aggregated = one_eq.agg not in (None, "topk", "bottomk")
    if one_aggregated:
        if bq.ignoring:
            raise PromQLError(
                "binary",
                'an aggregated "one" side needs \'on (…)\' matching: '
                "its only labels are its 'by' keys, so 'ignoring' "
                "cannot address them.",
            )
        if one_eq.without or sorted(one_eq.by) != sorted(bq.on):
            raise PromQLError(
                "binary",
                'an aggregated "one" side must group by EXACTLY the '
                "'on (…)' labels — that is what makes every match "
                "group single-series.",
            )
        if bq.group_labels:
            raise PromQLError(
                "binary",
                f"group_{bq.group_mode}({', '.join(bq.group_labels)}) "
                'copies labels from the "one" side, but an aggregation '
                "keeps only its 'by' keys — nothing extra to copy.",
            )
    return one_aggregated


def _group_join(
    many: DataFrame,
    one: DataFrame,
    bq: BinaryQuery,
    apply,
    one_aggregated: bool,
) -> DataFrame:
    """Many-to-one vector matching (``group_left``/``group_right``) per
    step — the real-dashboard join the one-to-one path can't express:
    each "many"-side series joins its match group's single "one"-side
    series on the ``on``/``ignoring`` key and the step ``t``.

    Two "one"-side shapes are accepted:

    * a series vector (the Prometheus info-metric pattern) — optionally
      with ``group_left(lbl, …)`` copying one-side labels onto the
      result. DUPLICATE one-side keys raise at execution time (a
      ``raise_error`` guard over a dimension-sized window count per
      (key, t)) — Prometheus likewise rejects many-to-many matching at
      runtime, and silently multiplied series would mislead dashboards;
    * an aggregation ``by`` EXACTLY the ``on`` labels (``m / on (k)
      group_left sum by (k) (n)``) — unique per group by construction.

    Output rows carry the MANY side's full label set (canonical string,
    metric name dropped, copied labels merged in) — Prometheus'
    many-to-one output shape. Both operands are series-sized, so the
    equality join is dimension-sized and AQE broadcasts the smaller
    ("one") side; nothing here touches the sample-grain frame."""
    jk = ["__k", "t"]
    key = _matching_key(bq.on, bq.ignoring)
    mk = many.withColumn("__k", key)
    if one_aggregated:
        # The aggregated frame's columns ARE its by-keys; rebuild the
        # same canonical key string the many side computes, with NULL
        # (absent-label group) canonicalized to "" — Prometheus' empty
        # label value, so absent-label series still match their group.
        parts = [
            F.concat(
                F.lit(f'{k}="'),
                F.coalesce(F.col(k), F.lit("")),
                F.lit('"'),
            )
            for k in sorted(bq.on)
        ]
        ok = one.select(
            F.concat_ws(",", *parts).alias("__k"),
            "t",
            F.col("value").alias("__ov"),
        )
    else:
        sel = [key.alias("__k"), F.col("t"), F.col("value").alias("__ov")]
        if bq.group_labels:
            sel.append(F.col("labels").alias("__ol"))
        ok = one.select(*sel)
        # Prometheus raises "found duplicate series for the match
        # group" when the one side is not unique per key; silently
        # multiplying many-side rows would mislead dashboards. The
        # window count runs over the series-sized one vector
        # (dimension-sized) and the guard stays a JVM expression, so
        # the check is free at sample scale. (The aggregated-one-side
        # branch is unique per group by construction.)
        dup = F.count("*").over(Window.partitionBy(*jk))
        ok = ok.withColumn(
            "__ov",
            F.when(
                dup > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"group_{bq.group_mode}: found duplicate "
                            'series on the "one" side for match key '
                        ),
                        F.col("__k"),
                    )
                ).cast("double"),
            ).otherwise(F.col("__ov")),
        )
    joined = mk.join(ok, jk)
    if bq.group_labels:
        # An absent one-side label is REMOVED from the result (empty
        # label value ≡ no label, Prometheus), hence the null filter
        # rather than a coalesce-to-"".
        extras = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(lbl) for lbl in bq.group_labels]),
                F.array(
                    *[
                        F.element_at(F.col("__ol"), lbl)
                        for lbl in bq.group_labels
                    ]
                ),
            ),
            lambda _, v: v.isNotNull(),
        )
        merged = F.map_concat(
            F.map_filter(
                F.col("labels"),
                lambda k, _: ~k.isin(list(bq.group_labels)),
            ),
            extras,
        )
    else:
        merged = F.col("labels")
    out_cols = [_labels_without([], merged).alias("labels"), F.col("t")]
    lv = F.col("value") if bq.group_mode == "left" else F.col("__ov")
    rv = F.col("__ov") if bq.group_mode == "left" else F.col("value")
    if bq.op in _CMP_OPS:
        cond = apply(lv, rv)
        if bq.bool_mode:
            return joined.select(
                *out_cols, cond.cast("double").alias("value")
            )
        # Filtering comparison: keep the LEFT operand's value
        # (Prometheus), labels from the many side as always.
        return joined.filter(cond).select(*out_cols, lv.alias("value"))
    return joined.select(*out_cols, apply(lv, rv).alias("value"))
