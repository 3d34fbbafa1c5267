"""Deduplication operators over ``documents``: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design notes (the point of each plan shape):

* **exact**: hash-groupBy on a 128-bit content fingerprint — one shuffle
  of (hash, doc_id) pairs only, never the text.
* **jaccard_pairs**: inverted-index self-join on shingles (explode →
  join on shingle → count per pair), NOT an O(n²) cross join. Only
  documents sharing ≥1 shingle ever meet; with a document-frequency cap
  on hot shingles the join is linear-ish in corpus size.
* **minhash**: k independent 64-bit hashes per shingle, min-aggregated
  per document (map-side combine ⇒ shuffle carries k values per doc);
  banding turns near-dup search into an equality join on band keys.
* **simhash**: 32-bit token-hash sign aggregation; one groupBy.

All hashes derive from md5 so the DuckDB oracle reproduces them exactly
(``('0x'||substring(md5(x),1,16))::UBIGINT`` ≡ Spark
``conv(substring(md5(x),1,16),16,10)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sensapp_spark.pipeline.text import (
    normalized_text,
    spread_if_needed,
    word_ngrams,
)
from sensapp_spark.session import size_bytes

DEFAULT_NGRAM = 3  # word shingles
DEFAULT_MINHASH_K = 16
DEFAULT_BANDS = 4


def hash64(col) -> F.Column:
    """First 64 bits of md5 as an unsigned decimal — cross-engine stable."""
    return F.conv(F.substring(F.md5(col), 1, 16), 16, 10).cast("decimal(20,0)")


def hash32(col) -> F.Column:
    """First 32 bits of md5 as a long — small enough for bit arithmetic."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep MIN(doc_id) per normalized-content fingerprint
    (the id-keeping rule mirrors the reference's offline dedupe, which
    keeps MIN(rowid) — src/storage/sqlite/storage.rs:632-661)."""
    return (
        docs.select(
            "doc_id", F.md5(normalized_text(F.col("text"))).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("copies"))
    )


def scan_needs_spread(df: DataFrame) -> bool:
    """True when a file-scan input genuinely yields fewer splits than
    cores. Split count is ESTIMATED per file as ceil(size /
    maxPartitionBytes) — a single large parquet file already splits into
    many tasks, so counting files alone would trigger a pointless full
    shuffle of the corpus (flagged in review; remote URIs whose size we
    cannot stat fall back to one-split-per-file, and object-store
    corpora arrive many-filed anyway). Non-file sources report no files
    and are left untouched — in-memory frames already carry parallel
    partitioning."""
    import os
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        return False
    max_bytes = size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    splits = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme in ("file", ""):
            try:
                size = os.path.getsize(unquote(parsed.path))
                splits += max(1, -(-size // max_bytes))
                continue
            except OSError:
                pass
        splits += 1
        if splits >= parallelism:
            return False
    return splits < parallelism


def _tokenized(docs: DataFrame) -> DataFrame:
    """(doc_id, words) with the normalization+split MATERIALIZED as a
    column behind a shuffle boundary. Two reasons, both measured ~15× at
    sf0.1: (1) building n-grams via element_at over an inline split
    expression makes Catalyst re-evaluate the regex normalization per
    element; (2) a small parquet file arrives as one split — zero
    parallelism for the CPU-heavy shingling. The repartition only fires
    when the scan genuinely yields fewer SPLITS than cores
    (``scan_needs_spread`` — size-aware, so one big splittable file is
    not shuffled); at real scale the file layout already provides
    parallelism and no shuffle is added. The probe is listing-only —
    unlike ``rdd.getNumPartitions()`` it does not materialize an RDD
    handle or force plan analysis on the hot path."""
    return spread_if_needed(docs).select(
        "doc_id",
        F.split(F.trim(normalized_text(F.col("text"))), r"\s+").alias("words"),
    )


def word_shingles(docs: DataFrame, n: int = DEFAULT_NGRAM) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).
    The n-gram construction (including the short-document guard) is
    ``text.word_ngrams`` — one implementation shared with the
    repetition signals."""
    grams = word_ngrams(F.col("words"), n)
    return _tokenized(docs).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def benchmark_collisions(
    docs: DataFrame, bench: DataFrame, n: int = 3, threshold: int = 2
) -> DataFrame:
    """Benchmark decontamination: per-document count of distinct word
    n-grams that also appear anywhere in a held-out benchmark corpus,
    plus the ``contaminated`` flag (``n_collisions >= threshold``).
    Training pipelines run this against eval suites before training so
    test questions leaking into the corpus don't inflate scores.

    Scale shape: the benchmark is tiny relative to the corpus (eval
    suites are MBs), so its distinct gram set is explicitly
    ``broadcast()`` — the corpus-side gram stream joins map-side with
    no shuffle of corpus data; the only shuffle is the per-doc count,
    keyed by doc_id with map-side combine. ``word_shingles`` emits
    distinct grams per document, so ``count(*)`` counts distinct
    colliding grams."""
    hits = benchmark_collision_hits(docs, bench, n)
    return attach_collisions(docs.select("doc_id"), hits, threshold)


def benchmark_collision_hits(
    docs: DataFrame, bench: DataFrame, n: int = 3
) -> DataFrame:
    """(doc_id, n_collisions) for documents with at least one benchmark
    n-gram collision — the join-side half of ``benchmark_collisions``,
    exposed so callers that already hold a per-doc frame can left-join
    it without re-scanning the corpus for the doc_id spine."""
    doc_grams = word_shingles(docs, n)
    bench_grams = word_shingles(bench, n).select("shingle").distinct()
    return (
        doc_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_collisions"))
    )


def attach_collisions(
    per_doc: DataFrame, hits: DataFrame, threshold: int = 2
) -> DataFrame:
    """Left-join collision counts onto a per-document frame, filling
    zero for collision-free documents and deriving ``contaminated``."""
    return (
        per_doc.join(hits, "doc_id", "left")
        .withColumn(
            "n_collisions", F.coalesce(F.col("n_collisions"), F.lit(0))
        )
        .withColumn("contaminated", F.col("n_collisions") >= threshold)
    )


def shingle_counts(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))


DEFAULT_MAX_DF = 1000


def jaccard_pairs(
    docs: DataFrame,
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via inverted-index join.

    ``max_df`` drops shingles appearing in more than that many documents —
    the skew guard that keeps the inverted-index join linear-ish at corpus
    scale (a stop-shingle contributes df² join rows but almost no Jaccard
    discrimination). It defaults ON; pass ``max_df=None`` explicitly for
    exact small-corpus runs. Returns (doc_a, doc_b, jaccard) with
    doc_a < doc_b, jaccard ≥ threshold.
    """
    sh = word_shingles(docs, n)
    if max_df is not None:
        # Fused guarded path: one df aggregation feeds the hot-shingle
        # anti-join, then the filtered postings group into per-shingle
        # doc lists that are BOUNDED by max_df (no skew bomb), and both
        # the pair expansion and the per-doc counts derive from that one
        # grouped exchange (ReuseExchange shares the shuffle write), so
        # the CPU-heavy shingling runs twice total — df pass + grouped
        # pass — instead of three times plus a sort-merge self-join.
        keep = (
            sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        # INNER join against the kept (non-hot) shingles with a
        # shuffle_hash hint, not a broadcast anti-join against the hot
        # set: the hot set is unbounded on a degenerate corpus (small
        # vocabulary, heavy duplication — its forced broadcast OOM'd the
        # driver on the 10× dry run, scripts/bench_scale10.py), and a
        # broadcast buys nothing here anyway — sh must shuffle on
        # shingle for the grouped aggregation regardless, and the
        # hash-partitioned join output is REUSED by that groupBy (zero
        # extra exchanges; verified in the executed plan).
        sh_f = sh.join(keep.hint("shuffle_hash"), "shingle")
        grouped = sh_f.groupBy("shingle").agg(
            F.collect_list("doc_id").alias("docs")
        )
        lst = F.col("docs")
        pair_lists = F.flatten(
            F.transform(
                lst,
                lambda x, i: F.transform(
                    F.slice(lst, i + 2, F.size(lst)),
                    lambda y: F.struct(
                        F.least(x, y).alias("doc_a"),
                        F.greatest(x, y).alias("doc_b"),
                    ),
                ),
            )
        )
        inter = (
            grouped.select(F.explode(pair_lists).alias("p"))
            .groupBy(F.col("p.doc_a").alias("doc_a"),
                     F.col("p.doc_b").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )
        counts = (
            grouped.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"))
        )
    else:
        # Exact unguarded path (small corpora): classic inverted-index
        # self-join — per-shingle doc lists would be unbounded here, so
        # the join's spill-friendly machinery is the safer shape.
        counts = shingle_counts(sh)
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
    # "shuffle_hash" hints: Catalyst's STATIC size estimate for `inter`
    # (downstream of a grouped explode) can be bogus-small, and without
    # a hint the planner then BROADCASTS the pair frame — tens of
    # millions of rows — and OOMs the driver (observed on the 10× scale
    # dry run, scripts/bench_scale10.py). The hint pins a shuffled hash
    # join with the per-doc counts as build side: no sort of the huge
    # pair frame, per-partition build bounded by n_docs/partitions, and
    # within noise of the broadcast plan at bench scale (measured
    # 2.4 vs 2.6 s warm at sf0.1).
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    ).hint("shuffle_hash")
    cb = counts.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
    ).hint("shuffle_hash")
    out = (
        inter.join(ca, "doc_a").join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "jaccard")


def jaccard_pairs_prefix(
    docs: DataFrame,
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style prefix filtering —
    the Zipf-profile alternative to :func:`jaccard_pairs`.

    Each document's distinct shingles are ordered rarest-first (global
    document frequency ascending, shingle as tie-break); only the first
    ``n_sh - ceil(t * n_sh) + 1`` shingles are indexed. Lossless for
    threshold t: two sets with Jaccard >= t overlap in more than
    (1-t)·|A| elements, so they must share at least one PREFIX element
    (Chaudhuri/Xiao PPJoin prefix principle). Candidates additionally
    pass the length filter (t·|A| <= |B| and vice versa) before the
    exact verify, which intersects the two pre-collected sorted shingle
    arrays.

    Profile guidance (measured, BASELINE.md §"Prefix-filter
    experiment"): on a FLAT document-frequency corpus (small synthetic
    vocabulary) prefixes stay common, candidates stay huge, and the
    baseline inverted-index join wins by ~5x — keep
    :func:`jaccard_pairs`. On a ZIPFIAN corpus (real text: long tail of
    near-unique shingles) prefixes are near-unique, the candidate set
    collapses toward the true pair set, and this path wins. The
    dispatch is a data-profile decision; both produce identical output.
    """
    sh = word_shingles(docs, n)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # One shuffle keyed by shingle attaches df; the per-doc regroup
    # orders rare-first and derives the prefix in the same aggregation.
    ranked = sh.join(dfreq.hint("shuffle_hash"), "shingle")
    per_doc = (
        ranked.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform("ordered", lambda x: x["shingle"]).alias("sh_all"),
            F.size("ordered").alias("n_sh"),
        )
        .withColumn(
            # prefix length n - ceil(t*n) + 1
            "pfx_len",
            F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1,
        )
        # Three consumers (prefix postings, both verify sides) reference
        # this frame, and their alias-renamed subtrees defeat
        # ReuseExchange — without the checkpoint the shingling + df join
        # + regroup (the CPU-heavy 2/3 of the whole join) execute three
        # times. A LAZY localCheckpoint materializes the regrouped sets
        # once on first use; lifetime is tied to RDD GC, so no explicit
        # unpersist bookkeeping leaks onto callers. Same precedent as
        # neardup_components' lineage cut.
        .localCheckpoint(eager=False)
    )
    postings = per_doc.select(
        "doc_id", "n_sh",
        F.explode(F.slice("sh_all", 1, F.col("pfx_len"))).alias("shingle"),
    )
    a, b = postings.alias("a"), postings.hint("shuffle_hash").alias("b")
    cands = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # Length filter: |B| >= t|A| and |A| >= t|B| (symmetric since
        # doc_a < doc_b carries no size ordering here).
        .filter(
            (F.col("b.n_sh") >= F.ceil(F.col("a.n_sh") * F.lit(threshold)))
            & (F.col("a.n_sh") >= F.ceil(F.col("b.n_sh") * F.lit(threshold)))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_all").alias("sa"),
        F.col("n_sh").alias("na"),
    ).hint("shuffle_hash")
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("sh_all").alias("sb"),
        F.col("n_sh").alias("nb"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cands.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(inter / (F.col("na") + F.col("nb") - inter), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


DEFAULT_WINNOW_K = 5
DEFAULT_WINNOW_WINDOW = 4


def winnow_fingerprints(
    docs: DataFrame,
    k: int = DEFAULT_WINNOW_K,
    window: int = DEFAULT_WINNOW_WINDOW,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm, used at corpus scale for The
    Stack's code dedup): hash every word k-gram, slide a ``window`` of
    consecutive hashes, and keep each window's minimum. Guarantees any
    shared run of at least k + window - 1 words between two documents
    contributes at least one IDENTICAL fingerprint to both — local
    similarity detection with a fingerprint set ~2/(window+1) the size
    of the full k-gram set.

    Everything is per-document higher-order functions over one scan —
    no shuffle; hashes are md5-derived so the DuckDB oracle builds the
    identical values. Returns (doc_id, fp) with distinct fingerprint
    VALUES per document (winnowing's positional tie-break rule affects
    which positions are reported, not the selected value set, so value
    sets are canonical across engines). Documents shorter than k words
    emit nothing; documents with fewer than ``window`` k-grams emit
    their single global minimum."""
    gram_hash = F.transform(word_ngrams(F.col("words"), k), hash64)
    staged = _tokenized(docs).select("doc_id", gram_hash.alias("h"))
    minima = F.transform(
        F.sequence(F.lit(0), F.size("h") - window),
        lambda j: F.array_min(F.slice("h", j + 1, window)),
    )
    fps = (
        F.when(F.size("h") >= window, F.array_distinct(minima))
        .when(F.size("h") > 0, F.array(F.array_min("h")))
        .otherwise(F.array().cast("array<decimal(20,0)>"))
    )
    return staged.select("doc_id", F.explode(fps).alias("fp"))


def winnow_pairs(
    docs: DataFrame,
    k: int = DEFAULT_WINNOW_K,
    window: int = DEFAULT_WINNOW_WINDOW,
    min_shared: int = 2,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints:
    (doc_a, doc_b, shared) with doc_a < doc_b and at least
    ``min_shared`` common fingerprints — each shared fingerprint
    witnesses a common run of >= k + window - 1 words, so ``shared``
    measures COPIED SPANS (plagiarism/boilerplate reuse), not just
    set-overlap similarity like Jaccard.

    Same scale shape as the inverted-index Jaccard join, but over the
    winnowed sets (~2/(window+1) the postings volume): fingerprint-
    keyed equality self-join with map-side-combined pair counts;
    ``max_df`` drops corpus-wide boilerplate fingerprints exactly like
    the hot-shingle guard."""
    fps = winnow_fingerprints(docs, k, window)
    if max_df is not None:
        keep = (
            fps.groupBy("fp").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("fp")
        )
        fps = fps.join(keep.hint("shuffle_hash"), "fp")
    a, b = fps.alias("a"), fps.hint("shuffle_hash").alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def minhash_signatures(
    docs: DataFrame, k: int = DEFAULT_MINHASH_K, n: int = DEFAULT_NGRAM
) -> DataFrame:
    """k-permutation MinHash signature per document via Kirsch-
    Mitzenmacher double hashing: ONE md5 per shingle split into h1
    (60 bits) and h2 (52 bits), with family i = h1 + i*h2 (max value
    2^60 + 15*2^52 < 2^61 — no long overflow, no modulo needed).
    Hashing cost is 1/k of the naive k-md5 scheme — measured ~30%
    faster end-to-end at sf0.1, and the dominant term at corpus scale.
    Min-aggregation combines map-side, so the shuffle carries k longs
    per document, not the shingles."""
    sh = word_shingles(docs, n)
    h = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 16, 13), 16, 10).cast("long")
    hashed = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"mh_{i}")
        for i in range(k)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


DEFAULT_MAX_BUCKET = 500


def minhash_lsh_candidates(
    docs: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_NGRAM,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH banding: split the k-signature into ``bands`` bands of k/bands
    rows, bucket-join on (band, band-key). Returns candidate pairs
    (doc_a < doc_b, band_hits = number of agreeing bands ≥ 1). The
    equality join on band keys is the scale path: no pairwise compare
    ever happens outside a bucket.

    ``max_bucket`` is the skew guard WITHIN a bucket: a bucket of B
    near-identical documents (mass duplication — boilerplate pages,
    mirrored dumps) would emit B²/2 clique pairs; a 5,000-copy cluster
    measured 13.3M pairs and a 50k-copy cluster would be 1.25B from one
    bucket. Buckets larger than ``max_bucket`` instead emit STAR edges
    (bucket-min hub → member): linear in bucket size, and connectivity-
    preserving, so ``neardup_components`` finds the same clusters —
    what a full bucket means is precisely "these documents are
    near-identical", so the clique adds no information the star lacks.
    Pass ``max_bucket=None`` for exact clique semantics on small
    corpora."""
    assert k % bands == 0
    rows = k // bands
    sigs = minhash_signatures(docs, k, n)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh_{b * rows + j}").cast("string") for j in range(rows)]
            ).alias("key"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # shuffle_hash hint: the banded frame is bands × n_docs rows, so a
    # planner-chosen broadcast (static estimates downstream of the
    # signature explode are unreliable) becomes an OOM cliff at corpus
    # scale; the shuffled hash self-join partitions both sides on
    # (band, key) — the bucketed equality join this operator is — and
    # stays linear at any corpus size.
    if max_bucket is None:
        a, b = banded.alias("a"), banded.hint("shuffle_hash").alias("b")
        return (
            a.join(b, ["band", "key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("band_hits"))
        )
    bucket_w = Window.partitionBy("band", "key")
    bs = banded.withColumn("sz", F.count("*").over(bucket_w)).withColumn(
        "hub", F.min("doc_id").over(bucket_w)
    )
    small = bs.filter(F.col("sz") <= max_bucket).select("doc_id", "band", "key")
    a, b = small.alias("a"), small.hint("shuffle_hash").alias("b")
    clique = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    star = bs.filter(
        (F.col("sz") > max_bucket) & (F.col("doc_id") != F.col("hub"))
    ).select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return (
        clique.unionByName(star)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("band_hits"))
    )


SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over whitespace tokens (duplicate tokens count with
    multiplicity, the classic Charikar weighting). One explode + one
    groupBy; the shuffle carries 32 small ints per doc."""
    tok = _tokenized(docs).select("doc_id", F.explode("words").alias("token"))
    h = hash32(F.col("token"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b_{i}")
        for i in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    value = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b_{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        value = bit if value is None else value + bit
    return sums.select("doc_id", value.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-duplicate pairs via byte banding (the classic
    Manku/Charikar arrangement): the 32-bit signature splits into
    ``bands`` 8-bit bands; by pigeonhole, any pair within Hamming
    distance ``max_hamming < bands`` agrees on at least one whole band,
    so a (band, key) equality self-join finds every such pair — no
    all-pairs scan — and the exact Hamming distance (``bit_count`` of
    the XOR) verifies candidates. Returns (doc_a, doc_b, hamming) with
    doc_a < doc_b and hamming <= max_hamming.

    ``max_bucket`` is the same mass-duplication star-edge guard as the
    MinHash-LSH and embedding generators: oversized buckets emit
    hub→member edges carrying the REAL Hamming distance but NOT
    distance-filtered (connectivity edges for components). Signatures
    ride through the band join, so verification costs no extra join."""
    assert max_hamming < bands, "pigeonhole soundness needs max_hamming < bands"
    # 8-bit bands must tile the 32-bit signature: with bands > 4 the
    # high bands shift past the signature and every document shares
    # key 0 — one degenerate corpus-wide bucket that the max_bucket
    # guard would silently convert into unfiltered hub star edges.
    assert bands * 8 <= SIMHASH_BITS, (
        f"bands={bands} exceeds the {SIMHASH_BITS}-bit signature "
        f"(need bands * 8 <= {SIMHASH_BITS})"
    )
    sig = simhash(docs)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), 8 * b)
            .bitwiseAND(F.lit(255))
            .alias("key"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")

    def cliques(frame):
        a, b = frame.alias("a"), frame.hint("shuffle_hash").alias("b")
        return (
            a.join(b, ["band", "key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )

    if max_bucket is None:
        return cliques(banded).groupBy("doc_a", "doc_b").agg(
            F.max("hamming").alias("hamming")
        )
    bucket_w = Window.partitionBy("band", "key")
    # One min-struct window yields both the hub id and its signature.
    bs = banded.withColumn("sz", F.count("*").over(bucket_w)).withColumn(
        "hub_sig", F.min(F.struct("doc_id", "simhash")).over(bucket_w)
    )
    small = bs.filter(F.col("sz") <= max_bucket).select(
        "doc_id", "simhash", "band", "key"
    )
    star = (
        bs.filter(
            (F.col("sz") > max_bucket)
            & (F.col("doc_id") != F.col("hub_sig.doc_id"))
        )
        .select(
            F.col("hub_sig.doc_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.bit_count(
                F.col("hub_sig.simhash").bitwiseXOR(F.col("simhash"))
            ).cast("long").alias("hamming"),
        )
        # Deliberately NOT distance-filtered: connectivity edges.
    )
    return (
        cliques(small)
        .unionByName(star)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("hamming").alias("hamming"))
    )


def neardup_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs → dedup clusters.

    Pair generation (Jaccard / MinHash-LSH / embedding) yields edges;
    choosing which documents to KEEP requires the transitive closure:
    A~B, B~C ⇒ {A,B,C} is one cluster even if A~C was never scored.

    Algorithm: min-label propagation with POINTER JUMPING — each round
    takes the min over (own label, neighbors' labels, label-of-label).
    The label-of-label hop halves chain lengths every round, so
    convergence is O(log diameter) instead of O(diameter): 20 rounds
    cover components of depth ~2^20. Each round is two joins + one
    aggregation over one (node, label) row per node; the loop is
    driver-controlled with an early-exit convergence check.

    Input: (doc_a, doc_b) edge frame. Output: (doc_id, component) where
    component = MIN(doc_id) of the cluster — the canonical survivor,
    matching the keep-MIN rule of exact dedup.
    """
    # Symmetrize in ONE pass over pairs: a union of two projections of
    # the same frame would execute the (expensive) pair-generation plan
    # twice — Spark does not share subplans across union branches.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .cache()
    )
    # Near-dup edge sets are tiny relative to the corpus (pairs above a
    # similarity threshold). Below ``driver_threshold`` edges, a driver
    # union-find beats N iterative Spark jobs by seconds of pure job
    # overhead; the distributed loop below remains the path for graphs
    # that don't fit one machine.
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        # One Arrow fetch, not row-collect or toLocalIterator:
        # ≤ driver_threshold edges fit the driver easily; toPandas moves
        # them as columnar batches (~5x faster than Row
        # deserialization at the threshold), and toLocalIterator would
        # schedule one job per partition sequentially. The symmetrized
        # edge list carries every node in src, so no second distinct
        # job for the node set.
        pdf = edges.toPandas()
        for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted(set(pdf["src"].tolist()))
        spark = pairs.sparkSession
        edges.unpersist()
        return spark.createDataFrame(
            [(int(n), find(int(n))) for n in nodes],
            "doc_id long, component long",
        )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .cache()
    )
    first_round = True
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
        )
        stepped = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                # Thread the PREVIOUS label through so convergence can be
                # tested on the checkpointed frame itself — no extra
                # new-vs-old join per round.
                F.col("component").alias("old_comp"),
                F.least(
                    F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        # Pointer jumping: follow the label one more hop (label-of-label).
        hop = stepped.select(
            F.col("doc_id").alias("h_id"), F.col("component").alias("h_comp")
        )
        # localCheckpoint (eager) rather than cache: each iteration
        # references `labels` twice and `stepped` twice, so without
        # lineage TRUNCATION the logical plan doubles per iteration —
        # at ~20 iterations that is a 2^20-node plan and the driver
        # dies in the optimizer long before any task runs (observed on
        # the 10× scale dry run; cache() preserves lineage and does not
        # prevent it). Checkpointing materializes the ~(node, label)
        # frame — small — and resets the plan to a leaf each round.
        new_labels = (
            stepped.join(hop, stepped.component == hop.h_id, "left")
            .select(
                "doc_id",
                "old_comp",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("h_comp"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        # Convergence check over the already-materialized checkpoint —
        # a local filter, not a join.
        changed = (
            new_labels.filter(F.col("component") != F.col("old_comp"))
            .limit(1)
            .count()
        )
        if first_round:
            # Only the round-0 seed frame is cache()'d; later rounds are
            # localCheckpoints, whose blocks are freed by the
            # ContextCleaner once the previous round's frame becomes
            # unreachable (the reassignment below drops the last Python
            # reference). Each block set is one (doc_id, old, new) row
            # per node — small — so one-GC-cycle latency is fine; an
            # explicit unpersist() on a checkpointed frame would be a
            # no-op, not a cleanup.
            labels.unpersist()
            first_round = False
        labels = new_labels.select("doc_id", "component")
        if changed == 0:
            break
    edges.unpersist()
    return labels
