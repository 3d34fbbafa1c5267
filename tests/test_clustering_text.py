"""Spherical k-means clustering + round-2 text operators (type-token
ratio, PII scan)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sensapp_spark.pipeline.clustering import (
    KMEANS_K,
    kmeans_assign,
    kmeans_codebook,
)
from sensapp_spark.pipeline.dedup import benchmark_collisions
from sensapp_spark.pipeline.text import (
    pii_scan,
    repetition_signals,
    type_token_ratio,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB)


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_init_centroids_are_first_k(emb):
    """With no Lloyd update (``rounds=1``) the codebook is the init:
    the first ``k`` stored vectors by vec_id."""
    cents = kmeans_codebook(emb, k=4, rounds=1)
    assert [c[0] for c in cents] == [0, 1, 2, 3]
    stored = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 4).collect()
    }
    assert {cid: vec for cid, vec in cents} == stored


def test_kmeans_assign_deterministic(emb):
    a = {r.vec_id: r.cluster for r in kmeans_assign(emb).collect()}
    b = {r.vec_id: r.cluster for r in kmeans_assign(emb).collect()}
    assert a == b
    assert set(a.values()) <= set(range(KMEANS_K))
    assert len(a) == emb.count()


def test_kmeans_first_round_matches_naive(emb):
    """Round-1 assignment (against the init codebook) replayed in plain
    Python must agree with the Spark expression. The init codebook is
    the first ``KMEANS_K`` vectors by vec_id."""
    rows = emb.select("vec_id", "embedding").collect()
    cents = sorted(
        (r.vec_id, [float(x) for x in r.embedding])
        for r in rows
        if r.vec_id < KMEANS_K
    )
    assert [cid for cid, _ in cents] == list(range(KMEANS_K))
    naive = {}
    for r in rows:
        v = [float(x) for x in r.embedding]
        scored = sorted(
            ((round(_cos(v, cvec), 6), -cid) for cid, cvec in cents),
            reverse=True,
        )
        naive[r.vec_id] = -scored[0][1]
    one_round = kmeans_assign(emb, rounds=1)
    got = {r.vec_id: r.cluster for r in one_round.collect()}
    assert got == naive


def test_kmeans_update_moves_centroids(emb):
    """After one Lloyd update the assignment must differ from round 1
    for at least one vector (centroids moved off the seed points)."""
    r1 = {r.vec_id: r.cluster for r in kmeans_assign(emb, rounds=1).collect()}
    r2 = {r.vec_id: r.cluster for r in kmeans_assign(emb, rounds=2).collect()}
    assert r1 != r2


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_type_token_ratio(spark):
    out = type_token_ratio(
        _docs(spark, ["the cat the dog", "all distinct words here"])
    ).collect()
    got = {r.doc_id: (r.total_tokens, r.distinct_tokens, r.ttr)
           for r in out}
    assert got[0] == (4, 3, 0.75)
    assert got[1] == (4, 4, 1.0)


def test_type_token_ratio_normalizes_case(spark):
    out = type_token_ratio(_docs(spark, ["The THE the"])).collect()
    assert out[0].distinct_tokens == 1


def test_pii_scan_detects_patterns(spark):
    out = pii_scan(
        _docs(
            spark,
            [
                "contact alice@example.com or bob@corp.io today",
                "call +1 (555) 123-4567 now",
                "server at 192.168.1.250 responded",
                "perfectly clean text",
            ],
        )
    ).collect()
    got = {r.doc_id: r for r in out}
    assert got[0].emails == 2 and got[0].has_pii
    assert got[1].phones == 1 and got[1].has_pii
    assert got[2].ipv4s == 1 and got[2].has_pii
    assert not got[3].has_pii
    assert got[3].emails == got[3].phones == got[3].ipv4s == 0


def test_repetition_signals_known_values(spark):
    out = repetition_signals(
        _docs(
            spark,
            [
                # bigrams: "buy now"x3, "now buy"x2 -> top 3/5; trigrams:
                # 4 total, 2 distinct (each repeats) -> dup 1 - 2/4
                "buy now buy now buy now",
                "all words here are unique tokens",
                "one",      # shorter than any n-gram window
            ],
        )
    ).collect()
    got = {r.doc_id: r for r in out}
    assert got[0].bigram_total == 5
    assert got[0].top_bigram_frac == 0.6
    assert got[0].trigram_total == 4
    assert got[0].dup_trigram_frac == 0.5
    assert got[1].top_bigram_frac == round(1 / 5, 6)
    assert got[1].dup_trigram_frac == 0.0
    assert got[2].bigram_total == 0 and got[2].top_bigram_frac is None
    assert got[2].trigram_total == 0 and got[2].dup_trigram_frac is None


def test_repetition_signals_normalizes_case(spark):
    out = repetition_signals(_docs(spark, ["Spam SPAM spam spam"])).collect()
    # all bigrams identical after normalization
    assert out[0].top_bigram_frac == 1.0


def test_benchmark_collisions(spark):
    docs = _docs(
        spark,
        [
            "the quick brown fox jumps high",   # shares 2 trigrams w/ bench
            "the quick brown cat sits",          # shares 1 ("the quick brown")
            "totally unrelated filler content",  # shares 0
        ],
    )
    bench = _docs(spark, ["the quick brown fox runs"])
    out = benchmark_collisions(docs, bench, n=3, threshold=2).collect()
    got = {r.doc_id: r for r in out}
    assert got[0].n_collisions == 2 and got[0].contaminated
    assert got[1].n_collisions == 1 and not got[1].contaminated
    assert got[2].n_collisions == 0 and not got[2].contaminated


def test_benchmark_collisions_counts_distinct_grams_once(spark):
    # the colliding trigram appears twice in the doc but counts once
    docs = _docs(spark, ["alpha beta gamma alpha beta gamma"])
    bench = _docs(spark, ["alpha beta gamma"])
    out = benchmark_collisions(docs, bench, n=3, threshold=1).collect()
    assert out[0].n_collisions == 1 and out[0].contaminated


def test_benchmark_collisions_broadcasts_bench_side(spark):
    docs = _docs(spark, ["a b c d e"] * 4)
    bench = _docs(spark, ["a b c"])
    plan = benchmark_collisions(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_source_quality_rollup(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox and the hen", "a"),
            (1, "x" * 600, "a"),
            (2, "nine 9 9 9 !!!", "b"),
        ],
        "doc_id long, text string, source string",
    )
    from sensapp_spark.pipeline.text import quality_scores, source_quality

    per_doc = {r.doc_id: r.quality for r in quality_scores(docs).collect()}
    out = {r.source: r for r in source_quality(docs).collect()}
    assert out["a"].n_docs == 2 and out["b"].n_docs == 1
    # micro-integer mean: exact to the last bit of one IEEE division
    exp_a = (round(per_doc[0] * 1e6) + round(per_doc[1] * 1e6)) / (2 * 1e6)
    assert out["a"].avg_quality == exp_a
    assert out["b"].avg_quality == round(per_doc[2] * 1e6) / 1e6


def test_chunk_plan_windows_and_overlap(spark):
    from sensapp_spark.pipeline.text import chunk_plan

    # 10 tokens, window 4, overlap 1 -> step 3: starts 0,3,6 (start 9
    # would only re-cover the tail: 9+overlap >= 10).
    docs = _docs(spark, [" ".join(f"w{i}" for i in range(10))])
    out = sorted(
        chunk_plan(docs, chunk_tokens=4, overlap=1).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [(r.chunk_idx, r.token_start, r.n_tokens) for r in out] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4),
    ]
    # fingerprints are over the actual chunk text
    import hashlib

    assert out[0].chunk_fp == hashlib.md5(b"w0 w1 w2 w3").hexdigest()
    assert out[2].chunk_fp == hashlib.md5(b"w6 w7 w8 w9").hexdigest()


def test_chunk_plan_short_doc_single_chunk(spark):
    from sensapp_spark.pipeline.text import chunk_plan

    docs = _docs(spark, ["just three words", "one"])
    out = chunk_plan(docs, chunk_tokens=64, overlap=16).collect()
    got = {r.doc_id: (r.chunk_idx, r.token_start, r.n_tokens) for r in out}
    assert len(out) == 2
    assert got[0] == (0, 0, 3)
    assert got[1] == (0, 0, 1)


def test_chunk_plan_exact_multiple_no_empty_tail(spark):
    from sensapp_spark.pipeline.text import chunk_plan

    # 8 tokens, window 4, overlap 0 -> exactly two full windows, and no
    # third window starting at 8 (empty).
    docs = _docs(spark, [" ".join("abcdefgh")])
    out = chunk_plan(docs, chunk_tokens=4, overlap=0).collect()
    assert sorted((r.token_start, r.n_tokens) for r in out) == [(0, 4), (4, 4)]


def test_chunk_plan_rejects_bad_overlap(spark):
    import pytest as _pytest

    from sensapp_spark.pipeline.text import chunk_plan

    with _pytest.raises(ValueError):
        chunk_plan(_docs(spark, ["a b"]), chunk_tokens=4, overlap=4)


def test_simhash_pairs_complete_vs_bruteforce(spark):
    """Banding must find EXACTLY the pairs within Hamming distance 3
    (pigeonhole completeness) — verified against an all-pairs replay."""
    from sensapp_spark.pipeline.dedup import simhash, simhash_pairs

    texts = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    words = base.split()
    for i in range(12):
        # small perturbations so several signatures land within d<=3
        t = list(words)
        t[i % len(t)] = f"mut{i}"
        texts.append(" ".join(t))
    texts.append(base)
    docs = _docs(spark, texts)
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    expect = set()
    ids = sorted(sigs)
    for i in ids:
        for j in ids:
            if i < j and bin(sigs[i] ^ sigs[j]).count("1") <= 3:
                expect.add((i, j, bin(sigs[i] ^ sigs[j]).count("1")))
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(docs, max_bucket=None).collect()
    }
    assert got == expect and expect  # non-trivial fixture


def test_simhash_pairs_star_guard(spark):
    from sensapp_spark.pipeline.dedup import simhash_pairs

    n = 30
    docs = _docs(spark, ["identical duplicated content here"] * n)
    out = simhash_pairs(docs, max_bucket=10).collect()
    # star edges: hub(0) -> member, one per member, real hamming 0
    assert len(out) == n - 1
    assert all(r.doc_a == 0 and r.hamming == 0 for r in out)


def test_lm_perplexity_matches_hand_computation(spark):
    import math

    from sensapp_spark.pipeline.text import lm_perplexity

    texts = ["a b a b", "a b c", "z"]
    docs = _docs(spark, texts)
    # corpus stats over normalized tokens
    toks = [t.split() for t in texts]
    uni: dict = {}
    bi: dict = {}
    for ws in toks:
        for w_ in ws:
            uni[w_] = uni.get(w_, 0) + 1
        for x, y in zip(ws, ws[1:]):
            bi[(x, y)] = bi.get((x, y), 0) + 1
    v = len(uni)

    def ppl(ws):
        lps = [
            math.log((bi[(x, y)] + 0.5) / (uni[x] + 0.5 * v))
            for x, y in zip(ws, ws[1:])
        ]
        return round(math.exp(-sum(lps) / len(lps)), 4)

    got = {r.doc_id: r.perplexity for r in lm_perplexity(docs).collect()}
    assert got[0] == ppl(toks[0])
    assert got[1] == ppl(toks[1])
    assert 2 not in got  # single-token doc: no bigrams, absent


def test_lm_perplexity_flags_unpredictable_text(spark):
    from sensapp_spark.pipeline.text import lm_perplexity

    common = "the quick brown fox jumps over the lazy dog"
    docs = _docs(
        spark,
        [common] * 8 + ["zx qv wk jh pl mn bt cd rs tu"],
    )
    got = {r.doc_id: r.perplexity for r in lm_perplexity(docs).collect()}
    fluent = got[0]
    gibberish = got[8]
    # The repeated (well-modeled) text must be far more predictable.
    assert gibberish > 3 * fluent


def test_jaccard_prefix_matches_baseline(spark):
    """PPJoin prefix filtering is lossless: identical pair set and
    jaccard values to the unguarded inverted-index baseline on the real
    testdata corpus."""
    from sensapp_spark.pipeline.dedup import jaccard_pairs, jaccard_pairs_prefix

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.3, max_df=None).collect()
    }
    pfx = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs_prefix(docs, threshold=0.3).collect()
    }
    assert base == pfx and len(base) > 0


def test_winnow_guarantee_and_edges(spark):
    """Winnowing's core guarantee: any shared run of >= k + window - 1
    words yields at least one identical fingerprint in both documents
    (SIGMOD'03 thm); plus the short-document edges."""
    from sensapp_spark.pipeline.dedup import (
        DEFAULT_WINNOW_K,
        DEFAULT_WINNOW_WINDOW,
        winnow_fingerprints,
        winnow_pairs,
    )

    run_len = DEFAULT_WINNOW_K + DEFAULT_WINNOW_WINDOW - 1  # 8 words
    shared_run = " ".join(f"s{i}" for i in range(run_len))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared_run} gamma delta"),
            (2, f"one two three {shared_run} four"),
            (3, "unrelated words entirely different content here now"),
            (4, "tiny doc"),                      # < k words: no grams
            (5, " ".join(f"u{i}" for i in range(DEFAULT_WINNOW_K))),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs)
    by_doc = {
        r.doc_id: r["cnt"]
        for r in fps.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert 4 not in by_doc          # sub-k doc emits nothing
    assert by_doc[5] == 1           # single gram -> single min
    pairs = {
        (r.doc_a, r.doc_b): r.shared
        for r in winnow_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in pairs          # the guarantee
    assert all(3 not in p for p in pairs)


def test_winnow_fingerprints_are_subset_of_gram_hashes(spark):
    """Every fingerprint is the hash of an actual k-gram of the doc
    (window minima select, never invent)."""
    from sensapp_spark.pipeline.dedup import hash64, winnow_fingerprints
    from sensapp_spark.pipeline.text import word_ngrams

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fps = winnow_fingerprints(docs)
    grams = docs.select(
        "doc_id",
        F.explode(
            word_ngrams(F.split(F.trim(
                F.lower(F.regexp_replace("text", r"\s+", " "))), r"\s+"), 5)
        ).alias("g"),
    ).select("doc_id", hash64(F.col("g")).alias("fp"))
    missing = fps.join(grams, ["doc_id", "fp"], "left_anti").count()
    assert missing == 0
    # And winnowing genuinely compresses: fewer fps than grams.
    assert fps.count() < grams.count()


# -- SemDeDup (round 8) -------------------------------------------------------


def test_semdedup_keeps_min_id_per_ball(emb):
    """Every dropped vector maps to exactly one keeper: the smallest
    same-cluster vec_id whose cosine clears the threshold, carrying that
    keeper's own cosine. Verified against a naive driver replay."""
    from sensapp_spark.pipeline.clustering import (
        kmeans_codebook,
        semdedup_pairs,
    )

    got = {
        r.vec_b: (r.vec_a, r.cosine)
        for r in semdedup_pairs(emb, threshold=0.35).collect()
    }
    assert got, "threshold must drop at least one vector on testdata"

    cents = kmeans_codebook(emb)
    rows = emb.orderBy("vec_id").collect()
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in rows}
    assign = {}
    for vid, v in vecs.items():
        scored = sorted(
            ((round(_cos(v, c), 6), -cid) for cid, c in cents),
            reverse=True,
        )
        assign[vid] = -scored[0][1]
    want = {}
    for vid, v in vecs.items():
        cands = [
            (other, round(_cos(v, vecs[other]), 6))
            for other in vecs
            if other < vid and assign[other] == assign[vid]
            and round(_cos(v, vecs[other]), 6) >= 0.35
        ]
        if cands:
            want[vid] = min(cands)
    assert got == {k: (v[0], pytest.approx(v[1])) for k, v in want.items()}


def test_semdedup_oversized_cluster_degrades_to_hub(spark):
    """max_cluster guard: members of an oversized cluster compare only
    against its min-id hub — no quadratic clique."""
    from sensapp_spark.pipeline.clustering import semdedup_pairs

    # 6 near-identical vectors (one cluster) with k=1 trivially.
    rows = [(i, [1.0, 0.01 * i] + [0.0] * 62) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup_pairs(
        emb, threshold=0.9, k=1, dim=64, max_cluster=3
    ).collect()
    # Every non-hub vector is dropped, keeper is always the hub (0).
    assert sorted((r.vec_a, r.vec_b) for r in out) == [
        (0, i) for i in range(1, 6)
    ]


def test_kmeans_tie_heavy_matches_oracle(spark):
    """The driver fit's round-6 tie window against the DuckDB replay
    the oracle gate uses: duplicated vectors force rounded-cosine ties
    (smallest cid must win) on a synthetic corpus."""
    import duckdb

    from sensapp_spark.plans.pipeline_queries import _kmeans_ctes

    rows = []
    for vid in range(120):
        base = [(vid % 5) * 0.25, 1.0, -0.5] + [
            ((vid * 7 + i) % 9) * 0.125 for i in range(61)
        ]
        rows.append((vid, [float(x) for x in base]))
    # exact duplicates across ids → guaranteed cosine ties
    rows += [(200 + i, rows[i][1]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(tuple(r) for r in kmeans_assign(emb).collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = con.execute(
        f"WITH {_kmeans_ctes()} SELECT vec_id, cluster FROM a2 ORDER BY 1"
    ).fetchall()
    assert got == want
