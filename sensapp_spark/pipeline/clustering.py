"""Deterministic embedding clustering: spherical k-means (Lloyd's
algorithm, cosine assignment) with a fixed iteration count and a
data-derived init, over ``embeddings(vec_id, embedding float[], label)``.

Design for 100 TB:

* The fit runs on the driver over :func:`similarity.train_sample` —
  the whole corpus up to ``ANN_DRIVER_TRAIN_ROWS``, a deterministic
  md5 sample above it — so training is one bounded collect whatever
  the round count (standard IVF/PQ practice: train on a sample,
  assign the full corpus).
* Assignment is a narrow whole-stage-codegen projection (the
  centroid loop becomes one ``array_max`` over (cosine, -cid)
  structs, exactly the IVF pattern) — no shuffle, no Python; the
  codebook (k × dim floats) enters the plan as a literal.
* Iterations are a fixed, small constant (2 assignment rounds here).
  Convergence looping belongs to offline training; a pipeline wants
  reproducible output.

Determinism contract (mirrored by the DuckDB oracle in
plans/pipeline_queries.py): init centroids are the first ``k`` vectors
by vec_id; cosines round to 6 decimals before the argmax; ties pick the
smallest centroid id; updated centroids round each coordinate to 6
decimals; clusters left empty by a round simply drop out (both engines
derive the same survivor set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sensapp_spark.pipeline.pq import _round6_py


KMEANS_K = 8
KMEANS_ROUNDS = 2  # assignment rounds; updates run between them


def assign_expr(vec, centroids: list[tuple[int, list[float]]]) -> F.Column:
    """Nearest-centroid-by-cosine cluster id as one JVM expression
    (round-6 cosine, smallest-id tie-break). Built as a transform
    walk of one nested-array literal (round-13, bit-equal — see
    ``similarity._assign_best``) instead of k unrolled cosine trees."""
    from sensapp_spark.pipeline.similarity import _assign_best

    return (-_assign_best(vec, centroids)["n"]).cast("int")


def _kmeans_local(
    train: list[tuple[int, list[float]]],
    k: int,
    rounds: int,
    dim: int,
    init: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """The spherical-kmeans fit, on the driver over the training rows
    (``similarity.train_sample``): init = the first ``k`` rows with
    ``vec_id < k`` (or ``init``), round-6 cosine argmax with the
    smallest-cid tie-break, coordinate-mean update rounded to 6.
    The ASSIGNMENT step is IEEE-identical to the engine's
    ``assign_expr`` by construction: dot products and |e|² accumulate
    per COORDINATE with elementwise numpy adds in index order — the
    exact ``aggregate(zip_with(...), 0.0, acc + v)`` fold — centroid
    norms use the same Python left-to-right sum the literal LUT uses,
    and rounding is monotone, so the rounded argmax winner always lies
    within ``unrounded_max − 2e-6`` (only that tie window pays the
    exact-but-slow ``_round6_py``). The UPDATE step sums through
    ``np.add.accumulate`` (sequential by definition) in vec_id order
    while the DuckDB oracle's ``avg`` sums in its own order; the two
    agree because round-6 absorbs the summation-order ULPs (the
    ``_codebooks_local`` argument). A sum landing exactly on a half-up
    tie at the 7th decimal could still round apart; the oracle gate is
    the pin, not a bit-identity claim. A zero vector yields NaN
    cosines exactly like the engine (NaN sorts greatest, ties →
    smallest cid)."""
    import math

    import numpy as np

    cents = (
        init
        if init is not None
        else [(vid, list(vec)) for vid, vec in train if vid < k][:k]
    )
    X = np.array([vec for _, vec in train], dtype=np.float64)
    e2 = np.zeros(X.shape[0])
    for i in range(dim):
        e2 = e2 + X[:, i] * X[:, i]
    enorm = np.sqrt(e2)
    for _ in range(rounds - 1):
        cids = [cid for cid, _ in cents]
        C = np.array([cv for _, cv in cents], dtype=np.float64)
        cnorms = np.array([
            math.sqrt(sum(float(x) * float(x) for x in cv))
            for _, cv in cents
        ])
        dots = np.zeros((X.shape[0], C.shape[0]))
        for i in range(dim):
            dots = dots + X[:, i:i + 1] * C[None, :, i]
        cos = dots / (enorm[:, None] * cnorms[None, :])
        sums: dict[int, list] = {}
        for r in range(X.shape[0]):
            row = cos[r]
            nan = np.isnan(row)
            if nan.any():
                cand = np.nonzero(nan)[0]
                best = min(cids[c] for c in cand)
            else:
                cmax = row.max()
                cand = np.nonzero(row >= cmax - 2e-6)[0]
                # max rounded cosine, ties -> smallest cid (the
                # (c, -cid) struct ordering).
                best = max(
                    ((_round6_py(float(row[c])), -cids[c]) for c in cand)
                )[1]
                best = -best
            sums.setdefault(best, []).append(r)
        cents = []
        for cid in sorted(sums):
            rows = np.array(sums[cid])
            g = X[rows]
            s = (
                np.add.accumulate(g, axis=0)[-1]
                if g.shape[0] > 1 else g[0]
            )
            cents.append((
                cid,
                [_round6_py(float(v) / g.shape[0]) for v in s],
            ))
    return cents


def kmeans_codebook(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
    dim: int = 64,
    init: list[tuple[int, list[float]]] | None = None,
    train: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """The TRAINED centroids after ``rounds - 1`` Lloyd updates — the
    production IVF codebook (``similarity.ivf_topk(codebook=...)``
    accepts it directly). Fits on ``train`` (default: one
    ``similarity.train_sample`` collect with the ``vec_id < k`` seed
    band), so no Spark job runs per round — see ``_kmeans_local``.
    ``init`` overrides the dense-id seeding rule (``vec_id < k``) for
    corpora with hashed/sparse id spaces — the ANN store's
    drift-triggered reindex passes order-based seeds."""
    from sensapp_spark.pipeline.similarity import train_sample

    if train is None:
        train = train_sample(embeddings, seeds=k)
    return _kmeans_local(train, k, rounds, dim, init=init)


def kmeans_assign(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
    dim: int = 64,
    train: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Fit-and-assign: ``rounds`` assignment passes with a centroid
    update between each. Returns (vec_id, cluster): the codebook is fit
    on the driver (:func:`kmeans_codebook`), the final assignment is
    one shuffle-free projection over the whole corpus."""
    cents = kmeans_codebook(embeddings, k, rounds, dim, train=train)
    return embeddings.withColumn(
        "cluster", assign_expr(F.col("embedding"), cents)
    ).select("vec_id", "cluster")


DEFAULT_MAX_SEMDEDUP_CLUSTER = 2000


def semdedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
    dim: int = 64,
    max_cluster: int | None = DEFAULT_MAX_SEMDEDUP_CLUSTER,
    train: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering-then-pairwise-cosine. Returns
    ``(vec_a, vec_b, cosine)`` where ``vec_b`` is a DROPPED vector and
    ``vec_a`` its keeper — the smallest vec_id in the same k-means
    cluster whose cosine to ``vec_b`` meets ``threshold`` (the paper
    keeps one representative per ε-ball; smallest-id is our
    deterministic representative rule, matching every other dedup
    operator's keep-MIN convention).

    Scale posture (100 TB): the expensive pairwise step never crosses
    cluster boundaries — the self-join key is the cluster id, so each
    cluster's quadratic expansion is independent and ``k`` is the
    parallelism/size lever (grow k with the corpus to hold cluster
    sizes ~constant; the paper uses k ≈ n/100). Two guards bound the
    worst case:

    * ``max_cluster``: members of an oversized cluster are compared
      only against the cluster's min-id HUB rather than pairwise —
      the same star-edge design as the MinHash/embedding-LSH bucket
      guards, degrading recall (not correctness) exactly where a
      quadratic blow-up would live.
    * the join build side is the guard-bounded keeper-candidate frame
      (≤ k × max_cluster rows), broadcast when it fits — a shuffled
      join on a k-valued key would serialize each cluster's expansion
      onto one reducer (measured 6× on the LSH analogue,
      similarity.py).

    EAGER-EVALUATION CONTRACT: fitting the codebook and sizing the
    build side run jobs at call time (same batch-only/deterministic-
    input contract as ``embedding_neardup_pairs``)."""
    from sensapp_spark.pipeline.similarity import _dot

    cents = kmeans_codebook(embeddings, k, rounds, dim, train=train)
    # Per-vector norm computed ONCE before the quadratic within-cluster
    # join (round-13, guide §1.2): sqrt(dot(e,e)) is the exact _norm
    # expression, so dot/(nrm_a·nrm_b) below is the same IEEE op
    # sequence cosine_similarity ran per pair — bit-equal at a third
    # of the pair flops.
    emb_d = F.col("embedding").cast("array<double>")
    av = embeddings.select(
        "vec_id",
        emb_d.alias("emb"),
        F.sqrt(_dot(emb_d, emb_d)).alias("nrm"),
        assign_expr(F.col("embedding"), cents).alias("cluster"),
    )
    sizes = av.groupBy("cluster").agg(
        F.count("*").alias("sz"), F.min("vec_id").alias("hub")
    )
    sized = av.join(F.broadcast(sizes), "cluster")
    if max_cluster is None:
        keepers = sized
        build_rows = None
    else:
        keepers = sized.filter(
            (F.col("sz") <= max_cluster) | (F.col("vec_id") == F.col("hub"))
        )
        build_rows = int(
            sizes.agg(
                F.sum(F.least(F.col("sz"), F.lit(max_cluster))).alias("n")
            ).first().n
            or 0
        )
    if build_rows is not None and build_rows * (dim * 8 + 32) < (64 << 20):
        build = F.broadcast(keepers)
    elif build_rows is not None:
        build = keepers.hint("shuffle_hash")
    else:
        build = keepers
    pairs = (
        build.alias("a")
        .join(sized.alias("b"), "cluster")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                _dot(F.col("a.emb"), F.col("b.emb"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    # One dropped row per vec_b: min-id keeper carries ITS cosine (the
    # struct min orders by vec_a first — ids are unique, so the pick is
    # total and deterministic).
    return (
        pairs.groupBy("vec_b")
        .agg(F.min(F.struct("vec_a", "cosine")).alias("kp"))
        .select(
            F.col("kp.vec_a").alias("vec_a"),
            "vec_b",
            F.col("kp.cosine").alias("cosine"),
        )
    )
