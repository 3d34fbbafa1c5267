"""Scalar (SQ8) and binary (sign-bit) quantization ANN — the two
simplest members of the quantization family next to PQ
(``pipeline/pq.py``), both standard production techniques (faiss
``ScalarQuantizer``/SQ8; sign-random-projection Hamming search,
Charikar STOC 2002 — here with the identity rotation, i.e. raw signs).

Why they matter at 100 TB:

* **SQ8**: each dimension is affinely mapped to one unsigned byte via
  per-dimension corpus (min, max) — a 64-dim float32 vector becomes 64
  bytes (4× compression; 8× vs the double the scorer would otherwise
  materialize) with NO codebook training. Scoring dequantizes inside
  one whole-stage-codegen projection: the scan side reads codes only,
  and the per-dim constants (lo, (hi−lo)/255) fold into literals.
* **Binary**: one SIGN BIT per dimension — the 64-dim corpus packs to
  exactly one BIGINT per vector (32× compression), and the candidate
  score is ``bit_count(xor(sig, qsig))``: a two-instruction Hamming
  distance that turns the first-stage scan into pure integer ALU work.
  Recall is the coarsest of the family; the exact re-rank stage does
  the rescue, and the prefilter's job is only to be CHEAP and never
  miss obvious neighbors.

Both follow the family's two-stage shape (PQ paper §V): compressed
first pass selects ``rerank`` candidates, exact cosine re-ranks those
rows via a broadcast semi-join. All float math is double-precision
left-to-right folds rounded to 6 decimals, so the DuckDB oracle
(plans/pipeline_queries.py) replays bit-for-bit; the Hamming prefilter
is exact integer math with vec_id tie-breaks — no float in the
candidate choice at all.

Like ``pq_topk``, the ``*_topk`` conveniences recompute corpus stats
per call so a replay is deterministic; a production deployment persists
the (lo, hi) table / signature column once (the ``storage/ann``
versioned-layout pattern) and scans only codes thereafter. The
reference has no ANN surface at all — this extends the training-data
side of the engine, not reference parity.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.pipeline.similarity import (
    _dot,
    _norm,
    exact_rerank,
    sql_array_lit,
)

SQ_LEVELS = 255      # uint8 code points 0..255
SQ_RERANK = 100
BQ_RERANK = 100


def sq_stats(
    embeddings: DataFrame,
    dim: int = 64,
    train: list[tuple[int, list[float]]] | None = None,
) -> tuple[list, list]:
    """Per-dimension (min, max) over the corpus — ONE aggregation with
    2·dim map-side-combined exprs; driver traffic is 2·dim doubles
    (the SQ analogue of a codebook).

    Rejects non-finite stats instead of encoding through them: a NaN
    component poisons its dimension's max (both engines order NaN
    above every number), and NaN then diverges between Spark's encode
    (``F.floor`` → long 0) and SQL's (``least``/``greatest`` keep NaN
    → clamps high) — a silent bit-for-bit replay break and a quantizer
    whose whole dimension collapses. SQ8 is a finite-vector technique;
    the didactic error here beats both wrong outcomes. (Binary
    quantization handles NaN fine — sign bits only.)

    ``train`` computes the same stats driver-locally without a Spark
    job. Pass it the WHOLE corpus only (``similarity.train_sample``
    below its cap, i.e. ``len(train) < ANN_DRIVER_TRAIN_ROWS``): the
    min/max of a sample is not the corpus min/max, and codes outside
    it would clamp. Over the whole corpus min/max are exact and
    order-insensitive, with Spark's NaN-greatest ordering replicated
    (a NaN component poisons max, never min), so the finite check
    behaves identically."""
    if train is not None:
        lo, hi = [], []
        for i in range(dim):
            col = [vec[i] for _, vec in train]
            finite = [v for v in col if not math.isnan(v)]
            hi.append(
                float("nan") if len(finite) < len(col) else max(col)
            )
            lo.append(min(finite) if finite else float("nan"))
    else:
        row = embeddings.agg(
            *[
                F.min(F.col("embedding")[i].cast("double")).alias(f"lo{i}")
                for i in range(dim)
            ],
            *[
                F.max(F.col("embedding")[i].cast("double")).alias(f"hi{i}")
                for i in range(dim)
            ],
        ).collect()[0]
        lo = [float(row[f"lo{i}"]) for i in range(dim)]
        hi = [float(row[f"hi{i}"]) for i in range(dim)]
    bad = [
        i
        for i in range(dim)
        if not (math.isfinite(lo[i]) and math.isfinite(hi[i]))
    ]
    if bad:
        raise ValueError(
            "SQ8 requires finite embeddings: corpus min/max is "
            f"NaN/Inf in dimension(s) {bad[:8]}"
            f"{'…' if len(bad) > 8 else ''} — filter or impute the "
            "non-finite components before quantizing"
        )
    return lo, hi


def _sq_scale(lo: list, hi: list) -> list:
    return [h - l if h != l else 1.0 for l, h in zip(lo, hi)]


def _sq_raw_codes_expr(lo: list, hi: list, col: str) -> F.Column:
    """The UNCLAMPED encode — floor((x_i − lo_i)/scale_i·255 + 0.5) —
    shared by the stored codes and the clamp-drift signal so the two
    can never disagree about what saturates. floor(t + 0.5) — not
    round() — because banker's vs half-away rounding differs across
    engines; floor is identical everywhere."""
    scale = _sq_scale(lo, hi)
    dbl = F.col(col).cast("array<double>")
    lo_arr = sql_array_lit([float(v) for v in lo])
    sc_arr = sql_array_lit([float(v) for v in scale])
    diff = F.zip_with(dbl, lo_arr, lambda x, l: x - l)
    return F.zip_with(
        diff,
        sc_arr,
        lambda d, s: F.floor(d / s * float(SQ_LEVELS) + F.lit(0.5)),
    )


def sq_codes_expr(lo: list, hi: list, col: str = "embedding") -> F.Column:
    """vector → uint8 code array (the STORED representation):
    clamp(:func:`_sq_raw_codes_expr`, 0, 255). Out-of-range components
    (append batches under frozen stats) clamp to the edge codes."""
    return F.transform(
        _sq_raw_codes_expr(lo, hi, col),
        lambda c: F.least(
            F.lit(SQ_LEVELS).cast("bigint"),
            F.greatest(F.lit(0).cast("bigint"), c),
        ),
    )


def sq_clamp_frac_expr(
    lo: list, hi: list, col: str = "embedding"
) -> F.Column:
    """Per-row fraction of components whose unclamped code falls
    outside 0..255 — the SQ-specific drift signal: frozen (lo, hi)
    stats saturate when the data distribution moves past the
    write-time corpus range."""
    raw = _sq_raw_codes_expr(lo, hi, col)
    n_out = F.size(
        F.filter(raw, lambda c: (c < 0) | (c > SQ_LEVELS))
    )
    return n_out.cast("double") / F.size(raw).cast("double")


def sq_dequant_codes_expr(lo: list, hi: list, codes_col) -> F.Column:
    """code array → dequantized vector x̂_i = lo_i + code_i·b_i,
    b_i = scale_i/255 — the probe-side half, usable over a stored
    codes column with no raw vector in sight."""
    scale = _sq_scale(lo, hi)
    b = [s / float(SQ_LEVELS) for s in scale]
    lo_arr = sql_array_lit([float(v) for v in lo])
    b_arr = sql_array_lit([float(v) for v in b])
    codes = codes_col if not isinstance(codes_col, str) else F.col(codes_col)
    xq = F.zip_with(codes, b_arr, lambda c, bb: c.cast("double") * bb)
    return F.zip_with(xq, lo_arr, lambda v, l: v + l)


def _sq_dequant(lo: list, hi: list, dim: int) -> F.Column:
    """Encode + dequantize fused into ONE projection (the convenience
    search path; the stored layout splits the halves across write and
    probe time with the identical arithmetic)."""
    return sq_dequant_codes_expr(lo, hi, sq_codes_expr(lo, hi))


def sq_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    rerank: int = SQ_RERANK,
    dim: int = 64,
    train: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(vec_id, score): asymmetric SQ8 search — approximate cosine
    against dequantized codes picks ``rerank`` candidates, exact
    cosine re-ranks them. Stats + encode + dequant + score all fuse
    into codegen; top-k is TakeOrderedAndProject."""
    if len(query) != dim:
        raise ValueError(
            f"query has {len(query)} dimensions, corpus has {dim}"
        )
    q = [float(x) for x in query]
    normq = math.sqrt(sum(x * x for x in q))
    lo, hi = sq_stats(embeddings, dim, train=train)
    xhat = _sq_dequant(lo, hi, dim)
    qlit = sql_array_lit(q)
    score = F.round(_dot(xhat, qlit) / (F.lit(normq) * _norm(xhat)), 6)
    cand = (
        embeddings.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(rerank)
    )
    return exact_rerank(embeddings, cand, qlit, k)


def bq_signature_py(vec: list[float]) -> int:
    """Python twin of the packed sign signature (for the query side):
    bit i set iff vec[i] > 0, two's-complement signed 64-bit. NaN
    counts as POSITIVE — both Spark SQL and DuckDB order NaN above
    every number, so the engine-side ``x > 0`` sets the bit and the
    twin must too (Python's ``nan > 0`` is False; without this a
    NaN-bearing vector would disagree with its own stored
    signature)."""
    sig = 0
    for i, x in enumerate(vec):
        if x > 0 or math.isnan(x):
            sig |= 1 << i
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def bq_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    rerank: int = BQ_RERANK,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, score): binary-quantized search — per-row packed sign
    signature (one BIGINT for dim ≤ 64), Hamming distance to the query
    signature via ``bit_count(xor(...))`` picks ``rerank`` candidates
    (integer-exact, vec_id ties), exact cosine re-ranks."""
    if len(query) != dim:
        raise ValueError(
            f"query has {len(query)} dimensions, corpus has {dim}"
        )
    if dim > 64:
        raise ValueError("packed signature supports dim <= 64")
    q = [float(x) for x in query]
    qsig = bq_signature_py(q)
    # Bit-63 weight is Long.MIN_VALUE: the sum of distinct two's-
    # complement bit weights always stays in signed-64 range.
    weights = [
        (1 << i) - (1 << 64) if i == 63 else (1 << i)
        for i in range(dim)
    ]
    dbl = F.col("embedding").cast("array<double>")
    w_arr = sql_array_lit([int(w) for w in weights]).cast("array<bigint>")
    sig = F.aggregate(
        F.zip_with(
            dbl,
            w_arr,
            lambda x, w: F.when(x > 0, w).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    dist = F.bit_count(sig.bitwiseXOR(F.lit(qsig).cast("bigint")))
    cand = (
        embeddings.select("vec_id", dist.alias("dist"))
        .orderBy(F.col("dist").asc(), "vec_id")
        .limit(rerank)
    )
    qlit = sql_array_lit(q)
    return exact_rerank(embeddings, cand, qlit, k)
