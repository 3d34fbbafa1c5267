"""Product-quantization ANN (pipeline/pq.py): deterministic sub-codebook
fit, ADC scoring from codes alone, two-stage exact re-rank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sensapp_spark.pipeline.pq import (
    PQ_KSUB,
    PQ_M,
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from sensapp_spark.pipeline.similarity import cosine_topk, hyperplanes

EMB = "/root/testdata/sf0.001/embeddings.parquet"
Q = hyperplanes(1, 64)[0]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB)


def test_codebooks_shape_and_determinism(emb):
    b1 = pq_codebooks(emb)
    b2 = pq_codebooks(emb)
    assert b1 == b2
    assert len(b1) == PQ_M
    for book in b1:
        assert 1 <= len(book) <= PQ_KSUB
        assert [c for c, _ in book] == sorted(c for c, _ in book)
        assert all(len(v) == 64 // PQ_M for _, v in book)


def test_encode_codes_in_range(emb):
    books = pq_codebooks(emb)
    valid = [set(c for c, _ in b) for b in books]
    rows = pq_encode(emb, books).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r.codes) == PQ_M
        for mi, c in enumerate(r.codes):
            assert c in valid[mi]


def test_adc_approximates_and_rerank_recovers(emb):
    exact = {r.vec_id for r in cosine_topk(emb, Q, 20).collect()}
    adc = {r.vec_id for r in pq_topk(emb, Q, k=20).collect()}
    rr_rows = pq_topk(emb, Q, k=20, rerank=100).collect()
    rr = {r.vec_id for r in rr_rows}
    # ADC alone is a coarse 64x-compressed signal; the two-stage search
    # must recover most of the exact set (floor measured with margin).
    assert len(adc & exact) / 20 >= 0.1
    assert len(rr & exact) / 20 >= 0.5
    assert len(rr & exact) > len(adc & exact)
    # Re-ranked scores ARE exact cosines: spot-check the top row.
    top = rr_rows[0]
    want = {
        r.vec_id: r.cosine for r in cosine_topk(emb, Q, 500).collect()
    }
    assert top.score == pytest.approx(want[top.vec_id], abs=1e-6)


def test_rerank_candidates_come_from_adc(emb):
    cand = {r.vec_id for r in pq_topk(emb, Q, k=100).collect()}
    rr = {r.vec_id for r in pq_topk(emb, Q, k=20, rerank=100).collect()}
    assert rr <= cand


def test_dim_validation(emb):
    with pytest.raises(ValueError, match="dimensions"):
        pq_topk(emb, [0.1, 0.2], k=5)
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks(emb, m=7)


def test_pq_plan_stays_jvm_side(emb):
    """The ADC projection must stay codegen/JVM: no Python eval, no
    shuffle before the TakeOrdered."""
    plan = pq_topk(emb, Q, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


# -- driver-local training on one bounded sample -----------------------------

def test_driver_local_training_matches_distributed(emb):
    """train_sample feeds the trainings that keep a Spark path;
    their artifacts must be BIT-IDENTICAL to it (IVF centroids are an
    exact first-N selection, SQ stats an exact whole-corpus min/max)."""
    from sensapp_spark.pipeline.similarity import ivf_centroids, train_sample
    from sensapp_spark.pipeline.sq import sq_stats

    train = train_sample(emb)
    assert ivf_centroids(emb, train=train) == ivf_centroids(emb)
    assert sq_stats(emb, train=train) == sq_stats(emb)


def _replay(rows, cap, seeds):
    """hashlib replay of train_sample's above-cap rule over (vec_id,
    vector) rows: md5 band plus the 0 <= vec_id < seeds band,
    truncated to cap by (seed band first, md5 prefix, vec_id)."""
    import hashlib
    import math

    def md5(vid):
        return int(hashlib.md5(str(vid).encode()).hexdigest()[:8], 16)

    band = math.ceil((cap + 8 * math.isqrt(cap)) / len(rows) * (1 << 32))
    hit = [r for r in rows if md5(r[0]) < band or 0 <= r[0] < seeds]
    hit.sort(key=lambda r: (not 0 <= r[0] < seeds, md5(r[0]), r[0]))
    return sorted(hit[:cap])


def test_train_sample_under_cap_is_sorted_corpus(emb):
    """At or under the cap the sample is the whole corpus, sorted by
    vec_id — the trainings (and the oracle replaying them) see every
    vector."""
    from sensapp_spark.pipeline.similarity import train_sample

    want = sorted(
        (r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()
    )
    assert train_sample(emb) == want
    assert train_sample(emb, cap=len(want)) == want


def test_train_sample_above_cap_is_id_deterministic(emb):
    """Above the cap the sample depends on the ids alone: the same
    rows after a repartition, equal to a hashlib replay, the seed
    band always present, so the first-N IVF codebook stays exact."""
    from sensapp_spark.pipeline.similarity import ivf_centroids, train_sample

    sample = train_sample(emb, cap=120, seeds=16)
    assert len(sample) == 120
    assert train_sample(emb.repartition(7), cap=120, seeds=16) == sample
    rows = [
        (r.vec_id, [float(x) for x in r.embedding]) for r in emb.collect()
    ]
    assert sample == _replay(rows, 120, 16)
    assert set(range(16)) <= {vid for vid, _ in sample}
    assert ivf_centroids(emb, train=sample) == ivf_centroids(emb)


def test_train_sample_seed_band_ignores_negative_ids(spark):
    """Changes-feed ids are signed hashes: the seed band is 0 <= id <
    seeds, so negative ids compete on md5 like every other id and the
    sample stays within the cap."""
    from sensapp_spark.pipeline.similarity import train_sample

    rows = [
        (vid, [float(vid % 7), 1.0]) for vid in range(-399, 201, 3)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sample = train_sample(df, cap=50, seeds=8)
    assert len(sample) <= 50
    assert sample == _replay(rows, 50, 8)
    assert {0, 3, 6} <= {vid for vid, _ in sample}


def test_training_jobs_are_bounded(spark, emb, spark_jobs):
    """Fitting on a sample runs no Spark job at all, and the sample
    itself costs at most 4 jobs above the cap (probe, count, collect)
    whatever the number of Lloyd rounds."""
    from sensapp_spark.pipeline.clustering import kmeans_codebook
    from sensapp_spark.pipeline.similarity import train_sample

    j0 = spark_jobs()
    sample = train_sample(emb, cap=120, seeds=16)
    assert spark_jobs() - j0 <= 4
    j1 = spark_jobs()
    kmeans_codebook(emb, rounds=5, train=sample)
    pq_codebooks(emb, rounds=5, train=sample)
    assert spark_jobs() == j1


def test_round6_py_matches_spark(spark):
    """The Python round twin must agree with the engine's round(x, 6)
    on representative values including HALF_UP ties and negatives."""
    from sensapp_spark.pipeline.pq import _round6_py

    vals = [
        0.0000005, -0.0000005, 1.2345675, -1.2345675, 0.1 + 0.2,
        123.45678949999, -0.061, 1e-7, 2.5e-6, 0.9999995,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r.r for r in df.select(F.round("x", 6).alias("r")).collect()
    ]
    assert got == [_round6_py(v) for v in vals]
