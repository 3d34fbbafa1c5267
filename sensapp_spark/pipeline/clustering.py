"""Deterministic embedding clustering: spherical k-means (Lloyd's
algorithm, cosine assignment) with a fixed iteration count and a
data-derived init, over ``embeddings(vec_id, embedding float[], label)``.

Design for 100 TB:

* The codebook (k × dim floats) is the ONLY state that ever leaves the
  executors — collected once per iteration, re-broadcast as literal
  expressions. Assignment is a narrow whole-stage-codegen projection
  (the centroid loop unrolls into one ``array_max`` over (cosine, -cid)
  structs, exactly the IVF pattern) — no shuffle, no Python.
* The update step is one groupBy(cluster) with ``dim`` avg aggregates —
  map-side partials, shuffle bytes ∝ k × dim per input partition.
* Iterations are a fixed, small constant (2 assignment rounds here):
  each round is one job, so the full fit is O(iters) scans. Convergence
  looping belongs to offline training; a pipeline wants reproducible
  output.

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


KMEANS_K = 8
KMEANS_ROUNDS = 2  # assignment rounds; updates run between them


def assign_expr(vec, centroids: list[tuple[int, list[float]]]) -> F.Column:
    """Nearest-centroid-by-cosine cluster id as one JVM expression
    (round-6 cosine, smallest-id tie-break). Built as a transform
    walk of one nested-array literal (round-13, bit-equal — see
    ``similarity._assign_best``) instead of k unrolled cosine trees."""
    from sensapp_spark.pipeline.similarity import _assign_best

    return (-_assign_best(vec, centroids)["n"]).cast("int")


def init_centroids(
    embeddings: DataFrame, k: int = KMEANS_K
) -> list[tuple[int, list[float]]]:
    """First ``k`` stored vectors by vec_id — the same deterministic
    data-derived codebook rule as the IVF index (similarity.py), so
    both engines and every scale factor agree without a training step."""
    rows = (
        embeddings.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]


def update_centroids(
    assigned: DataFrame, dim: int
) -> list[tuple[int, list[float]]]:
    """One Lloyd update: per-cluster coordinate means, rounded to 6
    decimals. Returns only non-empty clusters, sorted by cluster id.
    The collect is k × dim floats — codebook-sized by construction."""
    aggs = [
        F.round(F.avg(F.col("embedding")[i].cast("double")), 6).alias(f"c{i}")
        for i in range(dim)
    ]
    rows = assigned.groupBy("cluster").agg(*aggs).orderBy("cluster").collect()
    return [
        (int(r["cluster"]), [float(r[f"c{i}"]) for i in range(dim)])
        for r in rows
    ]


def _round6_py(x: float) -> float:
    from sensapp_spark.pipeline.pq import _round6_py as r6

    return r6(x)


def _kmeans_local(
    train: list[tuple[int, list[float]]],
    k: int,
    rounds: int,
    dim: int,
    init: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Driver-local twin of the distributed spherical-kmeans fit
    (round 14; the PQ ``_codebooks_local`` precedent): identical init
    (``vec_id < k``), identical round-6 cosine argmax with the
    smallest-cid tie-break, identical rounded coordinate-mean update.
    The ASSIGNMENT step is IEEE-identical by construction: dot products
    and |e|² accumulate per COORDINATE with elementwise numpy adds in
    index order — the exact ``aggregate(zip_with(...), 0.0, acc + v)``
    fold — centroid norms use the same Python left-to-right sum the
    literal LUT uses, and rounding is monotone, so the rounded argmax
    winner always lies within ``unrounded_max − 2e-6`` (only that tie
    window pays the exact-but-slow ``_round6_py``). The UPDATE step is
    not: mean sums run through ``np.add.accumulate`` (sequential by
    definition) in vec_id order while the distributed update averages
    in partition order, so the two agree because round-6 absorbs the
    summation-order ULPs — the same argument as ``_codebooks_local``.
    A sum landing exactly on a half-up tie at the 7th decimal could
    still round apart; the parity test and the oracle gate are the
    pin, not a bit-identity claim. A zero vector yields NaN cosines
    exactly like the engine (NaN sorts greatest, ties → smallest
    cid)."""
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
    accepts it directly). Driver traffic stays k x dim floats per
    update; the scans are the same ones ``kmeans_assign`` runs.
    ``init`` overrides the dense-id seeding rule (``init_centroids``'
    ``vec_id < k``) for corpora with hashed/sparse id spaces — the
    ANN store's drift-triggered reindex passes order-based seeds.
    ``train`` (from ``similarity.collect_train_vectors``) fits the
    codebook driver-locally without the per-round Spark jobs — see
    ``_kmeans_local`` for the parity argument (round-6 absorption of
    summation order)."""
    if train is not None:
        return _kmeans_local(train, k, rounds, dim, init=init)
    cents = init if init is not None else init_centroids(embeddings, k)
    for _ in range(rounds - 1):
        assigned = embeddings.withColumn(
            "cluster", assign_expr(F.col("embedding"), cents)
        )
        cents = update_centroids(assigned, dim)
    return cents


def kmeans_assign(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    rounds: int = KMEANS_ROUNDS,
    dim: int = 64,
    train: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Fit-and-assign: ``rounds`` assignment passes with a centroid
    update between each. Returns (vec_id, cluster). ``train`` fits the
    codebook driver-locally (``_kmeans_local``) — the final assignment
    projection is identical because the trained centroids are."""
    if train is not None:
        cents = _kmeans_local(train, k, rounds, dim)
        return embeddings.withColumn(
            "cluster", assign_expr(F.col("embedding"), cents)
        ).select("vec_id", "cluster")
    cents = init_centroids(embeddings, k)
    assigned = embeddings.withColumn(
        "cluster", assign_expr(F.col("embedding"), cents)
    )
    for _ in range(rounds - 1):
        cents = update_centroids(assigned, dim)
        assigned = embeddings.withColumn(
            "cluster", assign_expr(F.col("embedding"), cents)
        )
    return assigned.select("vec_id", "cluster")


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
