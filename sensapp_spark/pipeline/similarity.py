"""Similarity search over ``embeddings(vec_id, embedding float[], label)``.

* ``cosine_topk`` — brute-force exact top-k for one query vector: a
  single narrow projection (zip_with dot product folded JVM-side) + a
  top-k sort. O(n·d) work, no shuffle beyond the final k-row TakeOrdered.
* ``hyperplane_lsh_topk`` — the scale path: random-hyperplane LSH.
  Every vector gets a b-bit sign bucket; the query searches only its
  bucket (+ optional multi-probe neighbors at Hamming distance 1). The
  hyperplanes are derived deterministically from md5 so the DuckDB
  oracle builds the identical buckets — and at 100 TB the bucket id is a
  partition key: each probe touches 1/2^b of the data.

All float math is done in double precision with a left-to-right fold on
both engines, then rounded, so value-hash comparison is stable.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_similarity(a, b) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def exact_rerank(
    embeddings: DataFrame, cand: DataFrame, qlit, k: int, keep=()
) -> DataFrame:
    """Stage two of every two-stage quantized search (PQ paper §V) —
    THE single definition, shared by pq_topk, sq/bq_topk and the
    stored-layout probes so the family's determinism contract (round
    to 6, score-desc + vec_id ties) can never drift between copies:
    exact cosine over the candidate rows only, via a broadcast
    semi-join on vec_id (candidates are ≤ rerank rows), then the final
    k-row TakeOrdered. ``keep`` names extra candidate columns to carry
    through (e.g. ``centroid_id``)."""
    cols = ["vec_id", *keep]
    return (
        embeddings.join(F.broadcast(cand.select(*cols)), "vec_id")
        .select(
            "vec_id",
            *keep,
            F.round(
                cosine_similarity(
                    F.col("embedding").cast("array<double>"), qlit
                ),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(k)
    )


def cosine_topk(
    embeddings: DataFrame, query: list[float], k: int = 10
) -> DataFrame:
    """Exact brute-force cosine top-k, ties broken by vec_id."""
    q = sql_array_lit([float(x) for x in query])
    scored = embeddings.select(
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


# --------------------------------------------------------------------------
# Random-hyperplane LSH
# --------------------------------------------------------------------------

def hyperplanes(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): component (p, d)
    = md5("p:d") scaled. Reproducible in SQL: the oracle inlines the same
    constants. ``table`` salts the constants so multi-table LSH gets
    independent plane sets; table 0 keeps the original unsalted keys so
    existing bucket assignments (and oracles) are unchanged."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            key = f"{p}:{d}" if table == 0 else f"t{table}:{p}:{d}"
            h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
            row.append(round(h / 0x100000000 * 2 - 1, 6))
        planes.append(row)
    return planes


def bucket_expr(vec, planes: list[list[float]]) -> F.Column:
    """Sign-bit bucket id of a vector column under the given hyperplanes."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = sql_array_lit([float(c) for c in plane])
        bucket = bucket + F.when(_dot(vec, p) > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket.cast("int")


def _py_dot(a: list[float], b: list[float]) -> float:
    return sum(x * y for x, y in zip(a, b))


def query_bucket(query: list[float], planes: list[list[float]]) -> int:
    return sum(
        2**i for i, plane in enumerate(planes) if _py_dot(query, plane) > 0
    )


DEFAULT_MAX_EMB_BUCKET = 2000


def auto_planes(
    n: int,
    max_bucket: int = DEFAULT_MAX_EMB_BUCKET,
    lo: int = 1,
    hi: int = 24,
) -> int:
    """Hyperplane count for an ``n``-vector corpus: the smallest b with
    expected occupancy n/2^b at or under a QUARTER of the guard cap.
    Hyperplane buckets are not balanced — md5-derived planes are not
    orthonormal, and sign-bit correlations make the largest bucket run
    2-3x the mean (measured 2.7x at 64k vectors) — so the 4x headroom
    keeps ordinary buckets clear of the cap and the star-edge guard
    firing only on genuine duplication spikes. This is the docstring's
    "more planes, not a bigger cap" lever applied automatically:
    occupancy stays ~constant as the corpus grows 100x because b grows
    by log2(100) ≈ 7."""
    target = max(1, max_bucket // 4)
    if n <= target:
        return lo
    return min(hi, max(lo, math.ceil(math.log2(n / target))))


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int | None = 4,
    dim: int = 64,
    max_bucket: int | None = DEFAULT_MAX_EMB_BUCKET,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    Vectors are bucketed by hyperplane sign bits; exact cosine runs only
    within a bucket (equality self-join — never a full cross join). At
    corpus scale the bucket id is the shuffle key and each bucket is
    1/2^b of the data; recall can be raised with more probe rounds on
    rotated plane sets. Returns (vec_a, vec_b, cosine) with
    vec_a < vec_b and cosine ≥ threshold.

    ``max_bucket`` is the mass-duplication guard (same design as the
    MinHash-LSH bucket guard): a bucket of B near-identical vectors —
    one embedding duplicated across a mirrored corpus — emits B²/2
    clique pairs (12.5M measured for a 5,000-copy vector). Oversized
    buckets instead emit STAR pairs: bucket-min hub vs member, carrying
    the REAL pairwise cosine but NOT threshold-filtered — they are
    connectivity edges (like the MinHash star edges), so downstream
    components still link the bucket even when some member's similarity
    to the hub falls under the threshold. Clique pairs (small buckets)
    keep the ``cosine ≥ threshold`` contract exactly. In an oversized
    bucket, member↔member similarity is only observed via the hub — a
    recall trade that is sound for the mass-duplication case the guard
    targets; if ordinary buckets exceed the cap, the layout needs more
    hyperplanes, not a bigger cap. Pass ``max_bucket=None`` for exact
    clique semantics.

    EAGER-EVALUATION CONTRACT (batch-only): with a ``max_bucket`` set,
    calling this function runs one tiny probe job immediately (the
    ≤2^n_planes-row bucket-size aggregation) to pick the join strategy
    — it is not usable on streaming inputs, and the input frame must
    be DETERMINISTIC (re-computable to the same rows), or the probed
    sizes could disagree with the data the subsequent join re-scans.
    Deterministic parquet/table scans (the intended input) satisfy
    this trivially; if the input is a non-deterministic derivation
    (e.g. involves sampling or ``rand()``), ``.cache()`` + materialize
    it first so the probe and the join observe the same rows. We do
    not cache internally: pinning the full embedding corpus for one
    probe is the wrong trade at scale, and the probe's aggregation
    scan is cheap relative to the quadratic join it sizes.

    Sizing: unlike MinHash band keys (whose buckets hold only
    near-identical documents), hyperplane buckets hold ~n/2^planes
    vectors of ANY corpus, so the cap must sit above the expected
    occupancy for the chosen plane count — and at larger corpora the
    right move is MORE planes (buckets shrink exponentially), not a
    larger cap. The default cap of 2000 leaves a 4-plane layout
    untouched up to ~32k vectors while still catching the
    mass-duplication spike. Pass ``n_planes=None`` to apply that lever
    automatically: one count() job sizes b via :func:`auto_planes`, so
    occupancy stays under the cap at any corpus size with no manual
    tuning (adds an eager job — same batch-only contract as the probe).

    More planes cost recall at the bucket boundary; ``n_tables`` > 1
    recovers it the standard way — the pair sets from ``n_tables``
    independent plane sets (salted via ``hyperplanes(table=t)``) are
    unioned and deduped on (vec_a, vec_b). A true near-pair split by
    one table's partition is co-bucketed by another; each table still
    prunes its join to 1/2^b of the corpus, and the dedup is one
    shuffle of the (small) pair set, not of the vectors.
    """
    if n_planes is None:
        n_planes = auto_planes(
            embeddings.count(),
            max_bucket if max_bucket is not None else DEFAULT_MAX_EMB_BUCKET,
        )
    if n_tables < 1:
        raise ValueError("n_tables must be at least 1")
    per_table = [
        _neardup_pairs_one_table(
            embeddings, threshold, hyperplanes(n_planes, dim, table=t),
            dim, max_bucket,
        )
        for t in range(n_tables)
    ]
    if len(per_table) == 1:
        return per_table[0]
    out = per_table[0]
    for t in per_table[1:]:
        out = out.unionByName(t)
    # The same (vec_a, vec_b) pair carries the same exact rounded cosine
    # from every table (clique or star alike), so key-only dedup is safe.
    return out.dropDuplicates(["vec_a", "vec_b"])


def _neardup_pairs_one_table(
    embeddings: DataFrame,
    threshold: float,
    planes: list[list[float]],
    dim: int,
    max_bucket: int | None,
) -> DataFrame:
    # Precompute each vector's norm ONCE before the quadratic join
    # (round-13, guide §1.2 "per-task work"): cosine recomputed both
    # norms per PAIR, tripling the flops of the O(pairs·d) stage.
    # sqrt(dot(e,e)) here is the exact expression _norm builds, so
    # dot/(nrm_a·nrm_b) is the same IEEE op sequence as
    # cosine_similarity — bit-equal, just evaluated O(n) instead of
    # O(pairs) times.
    emb_d = F.col("embedding").cast("array<double>")
    bucketed = embeddings.select(
        "vec_id",
        emb_d.alias("emb"),
        F.sqrt(_dot(emb_d, emb_d)).alias("nrm"),
        bucket_expr(F.col("embedding"), planes).alias("bucket"),
    )

    def scored(left, n_rows: int | None = None):
        # Join-strategy choice matters enormously here: the bucket key
        # has only 2^n_planes distinct values, so a shuffled join (SMJ
        # or SHJ) serializes each bucket's quadratic expansion onto ONE
        # reducer — measured 6x slower than broadcasting the build side,
        # where the expansion parallelizes across the probe side's input
        # partitions. When the probe told us the row count, broadcast a
        # bounded build side (the guarded clique side always is bounded,
        # by 2^n_planes * max_bucket); fall back to shuffle_hash (never
        # a sort of the expanded stream) when it is not — at that corpus
        # size the plane count should be raised anyway, which restores
        # reducer parallelism via bucket count. With no count
        # (max_bucket=None exact path), the planner/AQE decides.
        if n_rows is None:
            right = left
        elif n_rows * (dim * 8 + 32) < (64 << 20):
            right = F.broadcast(left)
        else:
            right = left.hint("shuffle_hash")
        return (
            left.alias("a").join(right.alias("b"), "bucket")
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

    if max_bucket is None:
        return scored(bucketed)

    # Bucket occupancy via aggregation + broadcast, NOT a window: there
    # are at most 2^n_planes buckets, so the size frame is tiny, the
    # count combines map-side, and no shuffle+sort of the full
    # embedding frame happens. (The window formulation measured 4x
    # slower end-to-end at 20k vectors — the partitionBy shuffle ran
    # once per re-reference of the sized frame.)
    sizes = bucketed.groupBy("bucket").agg(
        F.count("*").alias("sz"), F.min("vec_id").alias("hub")
    )
    # Adaptive: one tiny probe job (map-side-combined, ≤2^n_planes
    # result rows) decides whether any bucket actually exceeds the cap.
    # The common healthy-layout case then runs the EXACT unguarded
    # plan — the guard's split/hub machinery measured ~1.5x even when
    # it emitted zero star edges, and one extra pass over the vectors
    # is far cheaper than that overhead on the quadratic join it
    # guards. Same driver-side adaptivity precedent as
    # ``neardup_components``'s threshold probe. The probe COLLECTS the
    # tiny size frame so the guarded branch rebuilds it as a local
    # relation instead of re-scanning the vectors a second time.
    size_rows = sizes.collect()
    if max((r.sz for r in size_rows), default=0) <= max_bucket:
        return scored(bucketed, sum(r.sz for r in size_rows))
    sizes_local = embeddings.sparkSession.createDataFrame(
        [(r.bucket, r.sz, r.hub) for r in size_rows],
        "bucket int, sz bigint, hub bigint",
    )
    sized = bucketed.join(F.broadcast(sizes_local), "bucket")
    small = sized.filter(F.col("sz") <= max_bucket).select(
        "vec_id", "emb", "nrm", "bucket"
    )
    clique = scored(
        small, sum(r.sz for r in size_rows if r.sz <= max_bucket)
    )
    big = sized.filter(F.col("sz") > max_bucket)
    hubs = big.filter(F.col("vec_id") == F.col("hub")).select(
        "bucket",
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("h_emb"),
        F.col("nrm").alias("h_nrm"),
    )
    star = (
        big.filter(F.col("vec_id") != F.col("hub"))
        .select("bucket", F.col("vec_id").alias("vec_b"), "emb", "nrm")
        # hubs is one row per oversized bucket — always tiny; without
        # the hint this planned as a sort-merge join of the big-bucket
        # members.
        .join(F.broadcast(hubs), "bucket")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("h_emb"), F.col("emb"))
                / (F.col("h_nrm") * F.col("nrm")),
                6,
            ).alias("cosine"),
        )
        # Deliberately NOT threshold-filtered: see docstring — star
        # pairs are connectivity edges.
    )
    return clique.unionByName(star)


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 4,
    multiprobe: bool = True,
    n_tables: int = 1,
    stored_planes: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine over the union of the query's
    LSH bucket candidates (plus Hamming-1 neighbor buckets when
    ``multiprobe``) across ``n_tables`` independent plane sets.

    Multiple tables are the standard recall lever orthogonal to
    multiprobe: a true neighbor missed by one table's partition is
    found by another with independent planes, while each table still
    prunes to (1 + n_planes)/2^n_planes of the corpus. The candidate
    predicate is a single OR over per-table bucket membership, so the
    whole thing stays ONE map-only scan + TakeOrdered regardless of
    table count; with a bucket-partitioned layout the probe lists
    become partition pruning instead of a scan filter. The reported
    ``bucket`` column is table 0's (output schema is table-count
    independent).

    If the input ALREADY carries a ``bucket`` column (the ingest-time
    layout: ``bucket_expr`` written once, table partitioned by it —
    single-table only, since one partition axis can serve one plane
    set), the per-query sign-bit projection is skipped and the probe
    list becomes a partition-pruning predicate (measured in
    scripts/bench_ann_layout.py / BASELINE.md). Using a stored layout
    requires DECLARING its plane count via ``stored_planes`` — column-
    name sniffing alone would let a layout written with 8 planes serve
    4-plane probes, silently scanning the wrong 6% of the corpus; the
    declaration must match ``n_planes`` (both name the table-0 plane
    set), and a ``bucket`` column with no declaration raises so a
    frame that merely happens to carry that name is never
    misinterpreted."""
    if n_tables < 1:
        raise ValueError("n_tables must be at least 1")
    if "bucket" in embeddings.columns:
        if stored_planes is None:
            raise ValueError(
                "input carries a bucket column: declare the stored "
                "layout's plane count via stored_planes=<n> (must "
                "match n_planes), or drop/rename the column if it is "
                "not an LSH layout"
            )
        if stored_planes != n_planes:
            raise ValueError(
                f"stored layout was written with {stored_planes} "
                f"planes but probes were requested for {n_planes} — "
                "the probe ids would be meaningless against the "
                "stored buckets"
            )
        if n_tables != 1:
            raise ValueError(
                "a stored single-axis bucket layout cannot serve "
                "multi-table probes — write one partitioned table per "
                "plane set and union the per-table top-k instead"
            )
        planes = hyperplanes(n_planes, len(query), table=0)
        qb = query_bucket(query, planes)
        probes = [qb] + (
            [qb ^ (1 << i) for i in range(n_planes)] if multiprobe else []
        )
        q0 = sql_array_lit([float(x) for x in query])
        return (
            embeddings.filter(F.col("bucket").isin(probes))
            .select(
                "vec_id",
                "bucket",
                F.round(
                    cosine_similarity(F.col("embedding"), q0), 6
                ).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k)
        )
    dim = len(query)
    q = sql_array_lit([float(x) for x in query])
    cond = None
    bucket0 = None
    for t in range(n_tables):
        planes = hyperplanes(n_planes, dim, table=t)
        qb = query_bucket(query, planes)
        probes = [qb] + (
            [qb ^ (1 << i) for i in range(n_planes)] if multiprobe else []
        )
        b = bucket_expr(F.col("embedding"), planes)
        if t == 0:
            bucket0 = b
        member = b.isin(probes)
        cond = member if cond is None else (cond | member)
    candidates = embeddings.withColumn("bucket", bucket0).filter(cond)
    scored = candidates.select(
        "vec_id",
        "bucket",
        F.round(cosine_similarity(F.col("embedding"), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN
# --------------------------------------------------------------------------

IVF_NLIST = 8
IVF_NPROBE = 2


def _py_cos(a: list[float], b: list[float]) -> float:
    return _py_dot(a, b) / (
        (_py_dot(a, a) ** 0.5) * (_py_dot(b, b) ** 0.5)
    )


# The ANN convenience *_topk paths re-train per call by design (a
# replay — and the DuckDB oracle — must see deterministic artifacts
# derived from the data alone). Below this corpus size the trainings
# run DRIVER-LOCALLY from one bounded collect instead of one Spark job
# per training collect (round 14, guide §1.2/§5 — the scheduler
# round-trips were the cost, not the data; the BPE/union-find
# driver-gate precedent). 200k × 64 doubles ≈ 100 MB driver memory.
ANN_DRIVER_TRAIN_ROWS = 200_000


def collect_train_vectors(
    embeddings: DataFrame, threshold: int = ANN_DRIVER_TRAIN_ROWS
) -> list[tuple[int, list[float]]] | None:
    """ONE bounded collect of (vec_id, embedding-as-doubles), sorted by
    vec_id, shared by every training that needs corpus vectors (IVF
    centroids, PQ codebooks, SQ stats). Returns None when the corpus
    exceeds ``threshold`` — callers then keep their distributed
    training paths (the probe costs one job either way; above the
    gate it IS the first training collect's scan, not extra work)."""
    rows = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        .limit(threshold + 1)
        .collect()
    )
    if len(rows) > threshold:
        return None
    return sorted(
        (int(r.vec_id), [float(x) for x in r.emb]) for r in rows
    )


def ivf_centroids(
    embeddings: DataFrame,
    nlist: int = IVF_NLIST,
    train: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer centroids. Deterministic stand-in for k-means:
    the first ``nlist`` stored vectors serve as centroids, so both
    engines (and every scale factor) derive the identical codebook from
    the data alone. Swap in trained centroids in production — every
    other part of the index is unchanged. Collecting them is a ~nlist·d
    float driver fetch: the codebook is a broadcast dimension by design.

    ``train`` (from :func:`collect_train_vectors`) serves the same
    rows without a Spark job — float64 widening of the stored vectors
    is exact, so both routes yield bit-identical centroids."""
    if train is not None:
        return [(vid, list(vec)) for vid, vec in train if vid < nlist]
    rows = (
        embeddings.filter(F.col("vec_id") < nlist)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    keep_score: bool = False,
) -> DataFrame:
    """IVF list assignment: nearest centroid by cosine (ties → smallest
    centroid id). The centroid loop unrolls into ONE narrow projection —
    an array_max over (cosine, -cid) structs — so assignment is
    shuffle-free and whole-stage-codegen'd: the scan cost is O(n·nlist·d)
    with zero data movement, the shape that survives a 100 TB corpus.

    ``keep_score`` additionally exposes the winning cosine as
    ``assign_cos`` — the quantization-fit signal the index store's
    drift tracking aggregates (storage/ann.py); it costs nothing extra
    (the struct already carries it)."""
    best = _assign_best(F.col("embedding"), centroids)
    out = embeddings.withColumn("centroid_id", (-best["n"]).cast("int"))
    if keep_score:
        out = out.withColumn("assign_cos", best["c"])
    return out


def sql_array_lit(values, depth: int = 1) -> F.Column:
    """A (nested) numeric array literal built as ONE ``F.expr`` SQL
    string instead of ``F.lit(list)`` (round 14, guide §1.2 driver-side
    work): PySpark's ``lit`` on a Python list recurses into one py4j
    ``lit``/``array`` call per ELEMENT — a (8×16×8)-double codebook
    literal costs ~1200 driver round-trips (~1-2 s) before analysis
    even starts. The SQL string round-trips in one call and parses
    JVM-side in milliseconds.

    Finite doubles serialize via ``repr`` (shortest round-trip —
    Spark's ``Double.parseDouble`` restores the identical bits) with
    the ``D`` suffix so the parser yields DOUBLE, not DECIMAL; the SQL
    grammar has no non-finite literal, so NaN and ±Infinity become
    ``CAST('NaN' AS DOUBLE)``-style casts. Ints pass through as plain
    literals. ``depth`` is the nesting level of ``values`` (1 = flat
    list)."""

    def fmt(v) -> str:
        if isinstance(v, bool):  # pragma: no cover — not used today
            raise TypeError("bool literals unsupported")
        if isinstance(v, int):
            return str(v)
        v = float(v)
        if math.isfinite(v):
            return repr(v) + "D"
        name = "NaN" if math.isnan(v) else (
            "Infinity" if v > 0 else "-Infinity"
        )
        return f"CAST('{name}' AS DOUBLE)"

    def render(vals, d: int) -> str:
        if d == 0:
            return fmt(vals)
        return "array(" + ",".join(render(v, d - 1) for v in vals) + ")"

    return F.expr(render(values, depth))


def _assign_best(vec, centroids: list[tuple[int, list[float]]]) -> F.Column:
    """array_max over per-centroid (cosine, -cid) structs, built as a
    ``transform`` walk of ONE nested-array literal instead of per-
    centroid unrolled expression trees (round-13; the pq module's
    measured lesson — the unrolled form costs k× the Catalyst
    analysis/optimization work and bloats codegen). Values are
    bit-equal to the unrolled form: the per-pair math is the same
    dot/(|e|·|c|) with round-6, |e| computed from the same _dot fold,
    and the centroid norms enter as LITERALS computed by the identical
    left-to-right IEEE fold in Python (the pq_topk query-LUT
    precedent). Ties still break to the smallest centroid id via the
    struct's (c, n=-cid) ordering."""
    cvecs = sql_array_lit(
        [[float(x) for x in cv] for _, cv in centroids], depth=2
    )
    cids = sql_array_lit([int(cid) for cid, _ in centroids])
    cnorms = sql_array_lit([
        math.sqrt(sum(float(x) * float(x) for x in cv))
        for _, cv in centroids
    ])
    nrm = F.sqrt(_dot(vec, vec))
    entries = F.transform(
        cvecs,
        lambda c, i: F.struct(
            F.round(
                _dot(vec, c) / (nrm * F.element_at(cnorms, i + 1)), 6
            ).alias("c"),
            (-F.element_at(cids, i + 1)).alias("n"),
        ),
    )
    return F.array_max(entries)


def ivf_probes(
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    nprobe: int = IVF_NPROBE,
) -> list[int]:
    """The ``nprobe`` centroids nearest the query vector (driver-side:
    the codebook is tiny). Rounded to 6 decimals like every cross-engine
    cosine so probe choice agrees with the SQL oracle."""
    scored = sorted(
        ((round(_py_cos(query, vec), 6), -cid) for cid, vec in centroids),
        reverse=True,
    )
    return [-n for _, n in scored[:nprobe]]


def ivf_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF ANN search: coarse-quantize once, then exact cosine over only
    the ``nprobe`` probed lists (~nprobe/nlist of the data). At scale the
    assignment is written once at ingest with ``centroid_id`` as the
    partition key, making a probe a partition-pruned scan.

    ``codebook`` swaps in trained centroids (e.g.
    ``clustering.kmeans_codebook``) for the deterministic first-nlist
    default — better-balanced lists on clustered corpora; the rest of
    the index is unchanged.

    If the input frame ALREADY carries a ``centroid_id`` column (the
    ingest-time layout: assignment written once, table partitioned by
    it), the per-query assignment scan is skipped entirely and the
    probe filter becomes a partition-pruning predicate — the scan
    touches only ~nprobe/nlist of the FILES, not just of the rows
    (measured in scripts/bench_ivf_layout.py / BASELINE.md §"IVF
    partitioned layout"). The caller MUST pass the ``codebook`` the
    layout was written with — enforced: a stored assignment with no
    explicit codebook raises, because probing ids derived from a
    freshly-derived codebook against someone else's assignment would
    silently return wrong (or empty) neighbors."""
    if "centroid_id" in embeddings.columns and codebook is None:
        raise ValueError(
            "input already carries centroid_id (stored IVF layout): "
            "pass the codebook it was written with — deriving a fresh "
            "one here would probe list ids that are meaningless "
            "against the stored assignment"
        )
    cents = codebook if codebook is not None else ivf_centroids(embeddings, nlist)
    probes = ivf_probes(query, cents, nprobe)
    q = sql_array_lit([float(x) for x in query])
    assigned = (
        embeddings
        if "centroid_id" in embeddings.columns
        else ivf_assign(embeddings, cents)
    )
    return (
        assigned
        .filter(F.col("centroid_id").isin(probes))
        .select(
            "vec_id",
            "centroid_id",
            F.round(cosine_similarity(F.col("embedding"), q), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )
