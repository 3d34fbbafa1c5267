"""Product quantization (PQ) ANN: compress each embedding into ``m``
sub-codebook codes and score queries against the codes alone via
asymmetric distance computation (ADC) — Jégou, Douze & Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011.

Why this matters at 100 TB: a 64-dim float32 embedding is 256 bytes; its
PQ code (m=8, ksub=16) is 8 codes ≤ 4 bits each — a 64× compression
that turns the scan side of ANN from IO-bound to CPU-trivial, and the
scoring into ``m`` table lookups + adds per row. The code table can be
re-scanned for every query without touching the raw vectors; the exact
re-rank (optional) touches only the ADC top-k' rows.

Spark shape:

* TRAIN (:func:`pq_codebooks`): per-subspace k-means, deterministic like
  the IVF/spherical-kmeans codebooks (init = subvectors of the first
  ``ksub`` vectors by vec_id; L2 argmin assignment with distances
  rounded to 6 decimals, smallest-code tie-break; coordinate-mean
  update rounded to 6; empty codes drop out). The fit runs on the
  driver over :func:`similarity.train_sample` — the whole corpus up to
  ``ANN_DRIVER_TRAIN_ROWS``, a deterministic md5 sample above it — and
  the full corpus is then encoded against the trained books.
* ENCODE / SCORE (:func:`pq_topk`): assignment and ADC scoring are ONE
  whole-stage-codegen projection — the argmin structs carry the
  query-side lookup-table values (dot(q_m, c) and |c|²) as literal
  struct fields, so the "table lookup" is free: ``array_min`` picks the
  code and its LUT entries together. No shuffle, no Python, no second
  pass; top-k is TakeOrderedAndProject.

The ADC score approximates cosine(q, x) by cosine(q, x̂) where x̂ is the
concatenation of the assigned sub-centroids: numerator
Σ_m dot(q_m, c_m), norm √(Σ_m |c_m|²) — rounded to 6 decimals like
every similarity operator here, and replayed exactly by the DuckDB
oracle (plans/pipeline_queries.py)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PQ_M = 8        # subspaces
PQ_KSUB = 16    # codes per subspace
PQ_ROUNDS = 2   # assignment rounds (one Lloyd update between)


def _round6_py(x: float) -> float:
    """Python twin of Spark's ``round(x, 6)``: shortest-round-trip
    decimal repr scaled HALF_UP (java BigDecimal.valueOf(d).setScale(6,
    HALF_UP)) — ties away from zero, like the engine and the DuckDB
    oracle. Matches for every value whose shortest repr the two
    runtimes agree on (all values this corpus produces; the oracle
    hash gate pins it end-to-end)."""
    if not math.isfinite(x):
        return x
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _codebooks_local(
    train: list[tuple[int, list[float]]],
    m: int,
    ksub: int,
    rounds: int,
    dsub: int,
) -> list[list[tuple[int, list[float]]]]:
    """The codebook fit, on the driver over the training rows
    (``similarity.train_sample``): init = subvectors of the first
    ``ksub`` rows with ``vec_id < ksub``; L2 argmin with distances
    accumulated left-to-right from 0.0 exactly like the encode
    projection's ``aggregate`` fold, rounded to 6, smallest-code
    tie-break; coordinate-mean update rounded to 6. The means sum in
    vec_id order while the DuckDB oracle's ``avg`` sums in its own
    order; round-6 absorbs the summation-order ULPs, and the oracle
    gate pins it."""
    import numpy as np

    init = [vec for vid, vec in train if vid < ksub][:ksub]
    books = [
        [
            (j, [float(vec[mi * dsub + i]) for i in range(dsub)])
            for j, vec in enumerate(init)
        ]
        for mi in range(m)
    ]
    # Vectorized twin of the scalar loop (round 14, guide §1.2 — this
    # loop was ~1 s of every ann_ivf construction): bit-identical by
    # construction. Distances accumulate per COORDINATE with elementwise
    # numpy adds in index order — the identical ``acc = acc + t_i``
    # IEEE sequence (np.sum would use pairwise reduction and is NOT
    # used). Rounding is monotone non-decreasing, so the round-6 argmin
    # winner always lies within ``unrounded_min + 2e-6`` (two rounded
    # values can only tie when the raw gap is ≤ 1e-6 + representation
    # slop); only that tie window goes through the exact-but-slow
    # ``_round6_py``, cutting Decimal calls ~ksub-fold. Group mean sums
    # run through np.add.accumulate — sequential by definition — over
    # rows in vec_id order, the same order the scalar loop visited.
    X = np.array([vec for _, vec in train], dtype=np.float64)
    for _ in range(rounds - 1):
        sums: dict[tuple[int, int], list] = {}
        for mi in range(m):
            off = mi * dsub
            sub = X[:, off:off + dsub]
            codes_mi = [j for j, _ in books[mi]]
            C = np.array([cv for _, cv in books[mi]], dtype=np.float64)
            acc = np.zeros((sub.shape[0], C.shape[0]))
            for i in range(dsub):
                diff = sub[:, i:i + 1] - C[None, :, i]
                acc = acc + diff * diff
            dmin = acc.min(axis=1)
            for r in range(acc.shape[0]):
                row = acc[r]
                cand = np.nonzero(row <= dmin[r] + 2e-6)[0]
                best_j = min(
                    (( _round6_py(float(row[c])), codes_mi[c])
                     for c in cand)
                )[1]
                ent = sums.setdefault((mi, best_j), [0, []])
                ent[0] += 1
                ent[1].append(r)
        books = [[] for _ in range(m)]
        for (mi, code), (n, rows) in sums.items():
            off = mi * dsub
            g = X[np.array(rows), off:off + dsub]
            s = (
                np.add.accumulate(g, axis=0)[-1]
                if g.shape[0] > 1 else g[0]
            )
            books[mi].append(
                (code, [_round6_py(float(v) / n) for v in s])
            )
        for b in books:
            b.sort()
    return books


def pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    rounds: int = PQ_ROUNDS,
    dim: int = 64,
    train: list[tuple[int, list[float]]] | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks: ``books[mi]`` is [(code, centroid), …]
    sorted by code, after ``rounds − 1`` Lloyd updates fit on the
    driver (``_codebooks_local``) over ``train`` — by default one
    ``similarity.train_sample`` collect with the ``vec_id < ksub``
    seed band, so no Spark job runs per round."""
    from sensapp_spark.pipeline.similarity import train_sample

    if dim % m:
        raise ValueError(f"dim {dim} is not divisible by m {m}")
    if train is None:
        train = train_sample(embeddings, seeds=ksub)
    return _codebooks_local(train, m, ksub, rounds, dim // m)


def _best_per_subspace(
    emb,
    books: list[list[tuple[int, list[float]]]],
    dsub: int,
    query: list[float] | None = None,
) -> F.Column:
    """All ``m`` subspace argmins as ONE literal-walk expression
    (round 14; the round-13 ``_assign_best`` precedent applied to PQ):
    ``transform`` over the subspace index walks a single nested
    (m × ksub × dsub) codebook literal instead of ``m`` separately
    analyzed per-subspace argmin trees — measured 2.9-3.9 s of
    per-entry Catalyst analysis collapsing to one tree. Per-element
    semantics are IDENTICAL: the same left-to-right ``(x-y)²`` fold
    from 0.0, ``round(…, 6)``, and the (distance, code[, dq, n2])
    struct ordering with its smallest-code tie-break.

    Returns an array of ``m`` structs (one argmin winner per
    subspace, in subspace order)."""
    from sensapp_spark.pipeline.similarity import sql_array_lit

    cvecs = sql_array_lit([
        [[float(x) for x in cv] for _, cv in cents] for cents in books
    ], depth=3)
    codes = sql_array_lit(
        [[int(j) for j, _ in cents] for cents in books], depth=2
    )
    if query is not None:
        dqs = sql_array_lit([
            [
                float(sum(
                    q * x for q, x in zip(
                        query[mi * dsub:(mi + 1) * dsub], cv
                    )
                ))
                for _, cv in cents
            ]
            for mi, cents in enumerate(books)
        ], depth=2)
        n2s = sql_array_lit([
            [float(sum(x * x for x in cv)) for _, cv in cents]
            for cents in books
        ], depth=2)

    def best(mi):
        sub = F.slice(emb, (mi - 1) * dsub + 1, dsub)

        def entry(c, i):
            d = F.round(
                F.aggregate(
                    F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ),
                6,
            )
            fields = [
                d.alias("d"),
                F.element_at(F.element_at(codes, mi), i + 1).alias("j"),
            ]
            if query is not None:
                fields.append(
                    F.element_at(F.element_at(dqs, mi), i + 1).alias("dq")
                )
                fields.append(
                    F.element_at(F.element_at(n2s, mi), i + 1).alias("n2")
                )
            return F.struct(*fields)

        return F.array_min(F.transform(F.element_at(cvecs, mi), entry))

    return F.transform(
        F.sequence(F.lit(1), F.lit(len(books))), best
    )


def pq_encode(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dim: int = 64,
) -> DataFrame:
    """(vec_id, codes array<int>) — the stored representation; a
    map-only projection."""
    m = len(books)
    dsub = dim // m
    emb = F.col("embedding").cast("array<double>")
    codes = F.transform(
        _best_per_subspace(emb, books, dsub), lambda s: s["j"]
    )
    return embeddings.select("vec_id", codes.alias("codes"))


def pq_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    rounds: int = PQ_ROUNDS,
    dim: int = 64,
    rerank: int | None = None,
    train: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """ADC top-k: (vec_id, score) where score ≈ cosine(query, vector),
    computed from the PQ codes alone. Encode + LUT lookup + top-k fuse
    into one codegen projection feeding TakeOrderedAndProject.

    ``rerank=k'`` enables the standard two-stage search (PQ paper §V):
    ADC selects the top ``k'`` candidates from the compressed
    representation, then EXACT cosine re-ranks just those ``k'`` rows —
    ``score`` is then the exact cosine. At 100 TB the first stage scans
    codes only (64× smaller than the vectors); the second touches k'
    rows via a broadcast semi-join on vec_id.

    NOT the production entry point: this convenience form RE-TRAINS
    the codebooks on every call (k-means over ``train_sample``) so a replay
    — and the DuckDB oracle — sees deterministic books. Production
    trains once and persists: ``storage/ann.write_ivfpq`` stores codes
    + both codebooks in the versioned layout and ``ivfpq_topk`` probes
    them with partition pruning — same scoring math, none of the
    training cost. (Same loudness rule as ``kmv_distinct``'s
    approx_count_distinct note.)"""
    if len(query) != dim:
        raise ValueError(
            f"query has {len(query)} dimensions, corpus has {dim}"
        )
    books = pq_codebooks(embeddings, m, ksub, rounds, dim, train=train)
    dsub = dim // m
    q = [float(x) for x in query]
    normq = math.sqrt(sum(x * x for x in q))
    emb = F.col("embedding").cast("array<double>")
    # One literal-walk expression for all m subspace argmins (see
    # _best_per_subspace). The dq/n2 sums fold left-to-right STARTING
    # from subspace 1's value — the identical IEEE sequence as the old
    # unrolled ``b1.dq + b2.dq + …`` chain (an ``aggregate`` from 0.0
    # would differ only on an all-(-0.0) chain, so the init is the
    # first element, not a literal zero).
    bests = _best_per_subspace(emb, books, dsub, query=q)
    # The whole score is ONE aggregate over ``bests`` with a finish
    # lambda: referencing ``bests`` from several expressions would
    # re-evaluate the full argmin walk per reference (subexpression
    # elimination does not hoist across higher-order-function
    # boundaries — measured 1.3→3.8 s exec on the 2-reference form).
    # The ``first`` flag makes the fold START from subspace 1's value,
    # preserving the old unrolled ``b1.dq + b2.dq + …`` IEEE sequence.
    score = F.aggregate(
        bests,
        F.struct(
            F.lit(0.0).alias("num"),
            F.lit(0.0).alias("n2"),
            F.lit(True).alias("first"),
        ),
        lambda acc, s: F.struct(
            F.when(acc["first"], s["dq"])
            .otherwise(acc["num"] + s["dq"]).alias("num"),
            F.when(acc["first"], s["n2"])
            .otherwise(acc["n2"] + s["n2"]).alias("n2"),
            F.lit(False).alias("first"),
        ),
        lambda acc: F.round(
            acc["num"] / (F.lit(normq) * F.sqrt(acc["n2"])), 6
        ),
    )
    adc = (
        embeddings.select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(rerank if rerank is not None else k)
    )
    if rerank is None:
        return adc
    from sensapp_spark.pipeline.similarity import exact_rerank

    from sensapp_spark.pipeline.similarity import sql_array_lit as _sal
    qlit = _sal(q)
    return exact_rerank(embeddings, adc, qlit, k)
