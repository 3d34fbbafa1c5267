"""AnnIndexStore: persisted partitioned ANN layouts (IVF + LSH).

Pins the three claims the store makes:

1. stored-layout top-k is BIT-IDENTICAL to the flat-frame path (the
   layouts only change I/O shape, never results);
2. the probe filter reaches the scan as directory-level
   ``PartitionFilters`` (plan-level proof the pruning is real — same
   pin style as test_bucketing.py);
3. the codebook / plane count travels with the layout in the meta
   sidecar, so probes can never run against a foreign assignment.
"""

from __future__ import annotations

import pytest

from sensapp_spark.pipeline.similarity import (
    hyperplane_lsh_topk,
    ivf_centroids,
    ivf_topk,
)
from sensapp_spark.storage.ann import AnnIndexStore
from sensapp_spark.storage.lake import resolve_table

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def query_vec(embeddings):
    row = embeddings.orderBy("vec_id").first()
    return [float(x) for x in row.embedding]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, embeddings):
    s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_store")))
    s.write_ivf(embeddings)
    s.write_lsh(embeddings, n_planes=4)
    return s


def test_ivf_store_matches_flat_path(store, embeddings, query_vec):
    flat = [
        (r.vec_id, r.centroid_id, r.cosine)
        for r in ivf_topk(embeddings, query_vec, k=10).collect()
    ]
    stored = [
        (r.vec_id, r.centroid_id, r.cosine)
        for r in store.ivf_topk(query_vec, k=10).collect()
    ]
    assert stored == flat and len(stored) == 10


def test_ivf_store_plan_prunes_partitions(store, query_vec):
    plan = _plan(store.ivf_topk(query_vec, k=10))
    assert "PartitionFilters" in plan
    filters = plan.split("PartitionFilters")[1][:200]
    assert "centroid_id" in filters


def test_ivf_codebook_round_trips(store, embeddings):
    _, cents = store.read_ivf()
    assert cents == ivf_centroids(embeddings)


def test_lsh_store_matches_flat_path(store, embeddings, query_vec):
    flat = [
        (r.vec_id, r.bucket, r.cosine)
        for r in hyperplane_lsh_topk(
            embeddings, query_vec, k=10, n_planes=4
        ).collect()
    ]
    stored = [
        (r.vec_id, r.bucket, r.cosine)
        for r in store.lsh_topk(query_vec, k=10).collect()
    ]
    assert stored == flat and len(stored) == 10


def test_lsh_store_plan_prunes_partitions(store, query_vec):
    plan = _plan(store.lsh_topk(query_vec, k=10))
    assert "PartitionFilters" in plan
    filters = plan.split("PartitionFilters")[1][:200]
    assert "bucket" in filters


def test_missing_layout_raises(store):
    with pytest.raises(FileNotFoundError, match="no ivf layout"):
        store.read_ivf("nope")


def test_kind_mismatch_raises(store):
    with pytest.raises(ValueError, match="is a 'lsh' index"):
        store.read_ivf("embeddings_lsh")
    with pytest.raises(ValueError, match="is a 'ivf' index"):
        store.read_lsh("embeddings_ivf")


def test_meta_lives_inside_committed_version(store):
    """The codebook/plane meta commits INSIDE the version dir (hidden
    `_ann_meta.json`), so one pointer resolution pairs data and meta
    from the same immutable version — the round-6 review's sidecar
    race is structurally impossible."""
    import os

    from sensapp_spark.storage.ann import META_FILE
    from sensapp_spark.storage.lake import resolve_table

    for name in ("embeddings_ivf", "embeddings_lsh"):
        data = resolve_table(store._path(name))
        assert os.path.exists(os.path.join(data, META_FILE))


def _versions(path):
    import os

    return sorted(d for d in os.listdir(path) if d.startswith("v_"))


class TestIncrementalAppend:
    """AnnIndexStore.append — VERDICT r6 gap #2: grow a stored layout
    against its FROZEN codebook/planes without rewriting the corpus,
    committed as a new version (hardlink clone + parquet append + CAS
    claim). Pins: bit-identical top-k vs a full rebuild, pruning
    intact, version grace, meta bookkeeping, drift report."""

    @pytest.fixture(scope="class")
    def split(self, embeddings):
        # Codebook = first-nlist vec_ids (< 8), so base-derived and
        # full-derived codebooks are identical by construction and the
        # append genuinely quantizes against the same frozen centroids
        # a rebuild would use.
        base = embeddings.filter("vec_id < 350")
        batch = embeddings.filter("vec_id >= 350")
        return base, batch

    @pytest.fixture(scope="class")
    def inc_store(self, spark, tmp_path_factory, split):
        s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_inc")))
        base, batch = split
        s.write_ivf(base, name="ivf_inc")
        s.append("ivf_inc", batch)
        s.write_lsh(base, name="lsh_inc", n_planes=4)
        s.append("lsh_inc", batch)
        return s

    def test_ivf_append_matches_full_rebuild(
        self, inc_store, embeddings, query_vec
    ):
        full = [
            (r.vec_id, r.centroid_id, r.cosine)
            for r in ivf_topk(embeddings, query_vec, k=10).collect()
        ]
        appended = [
            (r.vec_id, r.centroid_id, r.cosine)
            for r in inc_store.ivf_topk(query_vec, k=10,
                                        name="ivf_inc").collect()
        ]
        assert appended == full and len(appended) == 10

    def test_lsh_append_matches_full_rebuild(
        self, inc_store, embeddings, query_vec
    ):
        full = [
            (r.vec_id, r.bucket, r.cosine)
            for r in hyperplane_lsh_topk(
                embeddings, query_vec, k=10, n_planes=4
            ).collect()
        ]
        appended = [
            (r.vec_id, r.bucket, r.cosine)
            for r in inc_store.lsh_topk(query_vec, k=10,
                                        name="lsh_inc").collect()
        ]
        assert appended == full and len(appended) == 10

    def test_append_keeps_partition_pruning(self, inc_store, query_vec):
        plan = _plan(inc_store.ivf_topk(query_vec, k=10, name="ivf_inc"))
        assert "PartitionFilters" in plan
        assert "centroid_id" in plan.split("PartitionFilters")[1][:200]

    def test_append_commits_new_version_with_grace(
        self, inc_store, split
    ):
        """The pre-append version survives one commit (reader grace),
        then a second append retires it."""
        path = inc_store._path("ivf_inc")
        before = _versions(path)
        assert len(before) == 2  # write + first append
        _, batch = split
        inc_store.append("ivf_inc", batch.limit(5))
        after = _versions(path)
        assert len(after) == 2 and before[-1] in after

    def test_meta_counts_and_drift(self, inc_store, embeddings):
        _, meta = inc_store._resolve("ivf_inc", "ivf")
        # 350 base + 150 first append + 5 second (previous test).
        assert meta["n_vectors"] == embeddings.count() + 5
        assert len(meta["appends"]) == 2
        report = inc_store.drift("ivf_inc")
        # Same-distribution batch: fit ratio ~1, no re-index nag.
        assert 0.5 < report["distance_ratio"] < 1.5
        assert report["recommend_reindex"] is False
        # LSH never drifts.
        lsh_report = inc_store.drift("lsh_inc")
        assert lsh_report["recommend_reindex"] is False

    def test_append_to_missing_layout_raises(self, inc_store, split):
        with pytest.raises(FileNotFoundError, match="no layout"):
            inc_store.append("nope", split[1])

    def test_ivfpq_append_encodes_against_frozen_books(
        self, spark, tmp_path_factory, split, embeddings, query_vec
    ):
        """append() on an ivfpq layout (the round-8 verdict's one
        defect: it crashed with KeyError 'n_planes' and would have
        bucketed PQ codes with LSH logic): the batch must be encoded
        against the FROZEN sidecar codebooks — bit-identical to
        re-encoding the full corpus with the same books — land in the
        right centroid partitions, keep partition pruning, and feed the
        drift report."""
        from pyspark.sql import functions as F

        from sensapp_spark.pipeline.pq import pq_encode
        from sensapp_spark.pipeline.similarity import ivf_assign

        base, batch = split
        s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_pq")))
        s.write_ivfpq(base, name="pq_inc")
        meta = s.append("pq_inc", batch)
        assert meta["n_vectors"] == embeddings.count()
        assert len(meta["appends"]) == 1
        assert meta["appends"][0]["mean_assign_cos"] is not None

        frame, cents, books = s.read_ivfpq("pq_inc")
        got = {
            r.vec_id: (list(r.codes), r.centroid_id)
            for r in frame.collect()
        }
        expected_codes = {
            r.vec_id: list(r.codes)
            for r in pq_encode(embeddings, books, dim=64).collect()
        }
        expected_cents = {
            r.vec_id: r.centroid_id
            for r in ivf_assign(embeddings, cents).select(
                "vec_id", "centroid_id"
            ).collect()
        }
        assert set(got) == set(expected_codes)
        for vid, (codes, cid) in got.items():
            assert codes == expected_codes[vid], f"codes drift at {vid}"
            assert cid == expected_cents[vid], f"assignment drift at {vid}"

        # Probe still prunes partitions and re-ranks exactly.
        topk = s.ivfpq_topk(
            query_vec, k=5, name="pq_inc",
            rerank_against=embeddings, rerank=25,
        )
        plan = _plan(
            s.ivfpq_topk(query_vec, k=5, name="pq_inc")
        )
        assert "PartitionFilters" in plan
        assert "centroid_id" in plan.split("PartitionFilters")[1][:200]
        rows = topk.collect()
        assert len(rows) == 5
        # The query IS vec_id 0's vector: exact re-rank must put it first
        # when it survived the ADC cut (cosine 1.0).
        assert rows[0].score == 1.0

        report = s.drift("pq_inc")
        assert report["kind"] == "ivfpq"
        assert 0.5 < report["distance_ratio"] < 1.5
        assert report["recommend_reindex"] is False

    def test_concurrent_appends_lose_nothing(
        self, spark, tmp_path_factory, embeddings, query_vec
    ):
        """Two appenders racing on one layout: the CAS claim makes the
        loser retry against the winner's version, so BOTH batches land
        and the final top-k equals a full rebuild. A barrier pins both
        base resolutions before either commits — same interleaving the
        lake's two-host test forces, here through the ANN append path's
        own retry loop."""
        import threading

        from sensapp_spark.storage import lake as lake_mod

        s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_race")))
        s.write_ivf(embeddings.filter("vec_id < 300"), name="race")

        barrier = threading.Barrier(2, timeout=120)
        real_claim = lake_mod._claim_commit
        passed = threading.Event()

        def claiming(path, seq, version, **kw):
            # Both threads resolve their base, then race the claim.
            if not passed.is_set():
                try:
                    barrier.wait()
                    passed.set()
                except threading.BrokenBarrierError:
                    pass  # second round (the retry) races freely
            return real_claim(path, seq, version, **kw)

        lake_mod._claim_commit = claiming
        errors = []
        try:
            def run(lo, hi):
                try:
                    s.append(
                        "race",
                        embeddings.filter(
                            f"vec_id >= {lo} AND vec_id < {hi}"
                        ),
                    )
                except Exception as e:  # noqa: BLE001
                    errors.append(e)

            t1 = threading.Thread(target=run, args=(300, 400))
            t2 = threading.Thread(target=run, args=(400, 500))
            t1.start(); t2.start()
            t1.join(180); t2.join(180)
        finally:
            lake_mod._claim_commit = real_claim
        assert not errors, errors
        _, meta = s._resolve("race", "ivf")
        assert meta["n_vectors"] == embeddings.count()
        assert len(meta["appends"]) == 2
        full = [
            (r.vec_id, r.centroid_id, r.cosine)
            for r in ivf_topk(embeddings, query_vec, k=10).collect()
        ]
        got = [
            (r.vec_id, r.centroid_id, r.cosine)
            for r in s.ivf_topk(query_vec, k=10, name="race").collect()
        ]
        assert got == full


class TestMultiTableLsh:
    """Multi-table stored LSH — VERDICT r6 gap #6: N independent plane
    sets as a leading `table` partition axis; probes prune per-table
    directories and the candidate union is deduped before one exact
    top-k. Recall at constant per-table probe fraction must not drop
    below the single-table layout's (and recovers boundary splits)."""

    N_PLANES = 6  # sparse enough that one table misses neighbors

    @pytest.fixture(scope="class")
    def mt_store(self, spark, tmp_path_factory, embeddings):
        s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_mt")))
        s.write_lsh(embeddings, name="lsh1", n_planes=self.N_PLANES,
                    n_tables=1)
        s.write_lsh(embeddings, name="lsh3", n_planes=self.N_PLANES,
                    n_tables=3)
        return s

    def _recall(self, store_topk, truth):
        got = {r.vec_id for r in store_topk.collect()}
        return len(got & truth) / len(truth)

    def test_multi_table_recall_lift(self, mt_store, embeddings):
        from sensapp_spark.pipeline.similarity import cosine_topk

        rows = embeddings.filter("vec_id IN (0, 97, 233, 411)").collect()
        lifts = []
        for row in rows:
            q = [float(x) for x in row.embedding]
            truth = {r.vec_id for r in cosine_topk(embeddings, q,
                                                   k=10).collect()}
            r1 = self._recall(mt_store.lsh_topk(q, k=10, name="lsh1"),
                              truth)
            r3 = self._recall(mt_store.lsh_topk(q, k=10, name="lsh3"),
                              truth)
            assert r3 >= r1, f"vec {row.vec_id}: 3-table {r3} < 1-table {r1}"
            lifts.append((r1, r3))
        # The lever must actually lift somewhere, not just tie.
        assert any(r3 > r1 for r1, r3 in lifts), lifts

    def test_multi_table_plan_prunes_both_axes(self, mt_store, embeddings):
        row = embeddings.orderBy("vec_id").first()
        q = [float(x) for x in row.embedding]
        plan = _plan(mt_store.lsh_topk(q, k=10, name="lsh3"))
        assert "PartitionFilters" in plan
        filters = plan.split("PartitionFilters")[1][:400]
        assert "table" in filters and "bucket" in filters

    def test_single_table_layout_unchanged(self, mt_store, embeddings):
        """n_tables=1 keeps the original layout shape: no `table`
        column, so pre-round-7 layouts and their goldens read
        identically."""
        frame, n_planes, _ = mt_store.read_lsh("lsh1")
        assert "table" not in frame.columns
        assert n_planes == self.N_PLANES


def test_wrong_dim_query_raises(store):
    with pytest.raises(ValueError, match="dimensions"):
        store.ivf_topk([0.1, 0.2], k=5)
    with pytest.raises(ValueError, match="dimensions"):
        store.lsh_topk([0.1, 0.2], k=5)


def test_rewrite_with_new_codebook_rewires_assignment(
    spark, tmp_path, embeddings
):
    """Re-indexing an existing layout frame drops the stale
    ``centroid_id`` and assigns fresh under the new codebook — the
    stored assignment and the sidecar codebook can never diverge."""
    s = AnnIndexStore(spark, str(tmp_path))
    s.write_ivf(embeddings, nlist=4)
    frame, cents4 = s.read_ivf()
    assert len(cents4) == 4
    # Re-index FROM the stored frame (carries centroid_id) at nlist=8.
    s.write_ivf(frame, nlist=8)
    frame8, cents8 = s.read_ivf()
    assert len(cents8) == 8
    assert frame8.select("centroid_id").distinct().count() > 4


def test_write_ivf_rejects_empty_corpus(spark, tmp_path, embeddings):
    """An empty embeddings frame has no assignment fit — must be a
    descriptive ValueError, not float(None)'s bare TypeError (advisor
    r7, low)."""
    s = AnnIndexStore(spark, str(tmp_path / "ann_empty"))
    with pytest.raises(ValueError, match="empty"):
        s.write_ivf(embeddings.limit(0))


# -- IVF + PQ compressed layout (round 8) ------------------------------------


@pytest.fixture(scope="module")
def pq_store(spark, tmp_path_factory, embeddings):
    s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_pq")))
    s.write_ivfpq(embeddings)
    return s


def test_ivfpq_stores_codes_not_vectors(pq_store):
    frame, cents, books = pq_store.read_ivfpq()
    assert "embedding" not in frame.columns
    assert set(frame.columns) == {"vec_id", "codes", "centroid_id"}
    assert len(books) == 8 and all(1 <= len(b) <= 16 for b in books)


def test_ivfpq_full_probe_matches_flat_adc(pq_store, embeddings, query_vec):
    """Probing every list must reproduce the flat-frame two-stage PQ
    search bit-for-bit: same deterministic codebooks, same ADC scores,
    same re-ranked exact cosines."""
    from sensapp_spark.pipeline.pq import pq_topk
    from sensapp_spark.pipeline.similarity import IVF_NLIST

    flat = [
        (r.vec_id, r.score)
        for r in pq_topk(embeddings, query_vec, k=10, rerank=50).collect()
    ]
    stored = [
        (r.vec_id, r.score)
        for r in pq_store.ivfpq_topk(
            query_vec, k=10, nprobe=IVF_NLIST,
            rerank_against=embeddings, rerank=50,
        ).collect()
    ]
    assert stored == flat and len(stored) == 10


def test_ivfpq_plan_prunes_partitions_and_stays_jvm(pq_store, query_vec):
    df = pq_store.ivfpq_topk(query_vec, k=10)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:200]
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivfpq_adc_scores_match_flat_restricted(
    pq_store, embeddings, query_vec
):
    """ADC-only probe over nprobe lists == the flat ADC ranking
    restricted to vectors whose coarse assignment is probed."""
    from pyspark.sql import functions as F

    from sensapp_spark.pipeline.pq import pq_topk
    from sensapp_spark.pipeline.similarity import (
        IVF_NPROBE,
        ivf_assign,
        ivf_centroids,
        ivf_probes,
    )

    cents = ivf_centroids(embeddings)
    probes = set(ivf_probes(query_vec, cents, IVF_NPROBE))
    member = {
        r.vec_id
        for r in ivf_assign(embeddings, cents)
        .filter(F.col("centroid_id").isin(list(probes)))
        .select("vec_id")
        .collect()
    }
    n = len(member)
    flat = [
        (r.vec_id, r.score)
        for r in pq_topk(embeddings, query_vec, k=n).collect()
        if r.vec_id in member
    ][:10]
    stored = [
        (r.vec_id, r.score)
        for r in pq_store.ivfpq_topk(query_vec, k=10).collect()
    ]
    assert stored == flat


def test_ivfpq_wrong_dim_and_missing_layout(pq_store, spark, tmp_path):
    with pytest.raises(ValueError, match="dimensions"):
        pq_store.ivfpq_topk([0.1, 0.2], k=5)
    fresh = AnnIndexStore(spark, str(tmp_path / "none"))
    with pytest.raises(FileNotFoundError, match="ivfpq"):
        fresh.ivfpq_topk([0.0] * 64, k=5)


# -- IVF + SQ8 (round 9) ----------------------------------------------------


@pytest.fixture(scope="module")
def sq_store(spark, tmp_path_factory, embeddings):
    s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_sq")))
    s.write_ivfsq(embeddings)
    return s


def test_ivfsq_stores_codes_not_vectors(sq_store):
    frame, cents, lo, hi = sq_store.read_ivfsq()
    assert set(frame.columns) == {"vec_id", "codes", "centroid_id"}
    assert len(lo) == len(hi) == 64
    row = frame.first()
    assert len(row.codes) == 64
    assert all(0 <= c <= 255 for c in row.codes)


def test_ivfsq_probe_matches_flat_sq_scoring(
    sq_store, embeddings, query_vec
):
    """Stored-layout dequantized scores are bit-identical to scoring
    the flat frame with the same frozen stats, restricted to the probed
    lists — the layout changes I/O shape only."""
    import math

    from pyspark.sql import functions as F

    from sensapp_spark.pipeline.similarity import (
        IVF_NPROBE,
        _dot,
        _norm,
        ivf_assign,
        ivf_centroids,
        ivf_probes,
    )
    from sensapp_spark.pipeline.sq import _sq_dequant

    _, cents, lo, hi = sq_store.read_ivfsq()
    probes = set(ivf_probes(query_vec, cents, IVF_NPROBE))
    q = [float(x) for x in query_vec]
    normq = math.sqrt(sum(x * x for x in q))
    qlit = F.array(*[F.lit(x) for x in q])
    xhat = _sq_dequant(lo, hi, 64)
    score = F.round(_dot(xhat, qlit) / (F.lit(normq) * _norm(xhat)), 6)
    flat = [
        (r.vec_id, r.score)
        for r in ivf_assign(embeddings, cents)
        .filter(F.col("centroid_id").isin(list(probes)))
        .select("vec_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(10)
        .collect()
    ]
    stored = [
        (r.vec_id, r.score)
        for r in sq_store.ivfsq_topk(query_vec, k=10).collect()
    ]
    assert stored == flat and len(stored) == 10


def test_ivfsq_plan_prunes_partitions_and_stays_jvm(sq_store, query_vec):
    plan = _plan(sq_store.ivfsq_topk(query_vec, k=5))
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:200]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfsq_rerank_recovers_exact_top(sq_store, embeddings, query_vec):
    rows = sq_store.ivfsq_topk(
        query_vec, k=5, rerank_against=embeddings, rerank=25
    ).collect()
    assert len(rows) == 5
    # The query IS vec_id 0's vector: exact re-rank puts it first.
    assert rows[0].score == 1.0


def test_ivfsq_append_encodes_against_frozen_stats(
    spark, tmp_path_factory, embeddings, query_vec
):
    """append() on an ivfsq layout: the batch encodes against the
    FROZEN sidecar (lo, hi) stats + coarse codebook — codes equal
    re-encoding the full corpus with the BASE stats (not a rebuild's
    refreshed stats), assignments land in the right partitions, and
    the drift report carries the clamp signal."""
    from pyspark.sql import functions as F

    from sensapp_spark.pipeline.similarity import ivf_assign
    from sensapp_spark.pipeline.sq import sq_codes_expr

    base = embeddings.filter("vec_id < 350")
    batch = embeddings.filter("vec_id >= 350")
    s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_sq_inc")))
    s.write_ivfsq(base, name="sq_inc")
    meta = s.append("sq_inc", batch)
    assert meta["n_vectors"] == embeddings.count()
    assert len(meta["appends"]) == 1
    assert meta["appends"][0]["mean_assign_cos"] is not None
    assert meta["appends"][0]["clamp_frac"] is not None

    frame, cents, lo, hi = s.read_ivfsq("sq_inc")
    got = {
        r.vec_id: (list(r.codes), r.centroid_id) for r in frame.collect()
    }
    expected_codes = {
        r.vec_id: list(r.c)
        for r in embeddings.select(
            "vec_id", sq_codes_expr(lo, hi).alias("c")
        ).collect()
    }
    expected_cents = {
        r.vec_id: r.centroid_id
        for r in ivf_assign(embeddings, cents)
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert set(got) == set(expected_codes)
    for vid, (codes, cid) in got.items():
        assert codes == expected_codes[vid], f"codes drift at {vid}"
        assert cid == expected_cents[vid], f"assignment drift at {vid}"

    plan = _plan(s.ivfsq_topk(query_vec, k=5, name="sq_inc"))
    assert "PartitionFilters" in plan

    report = s.drift("sq_inc")
    assert report["kind"] == "ivfsq"
    assert "latest_clamp_frac" in report
    assert report["recommend_reindex"] is False


def test_ivfsq_clamp_drift_recommends_reindex(
    spark, tmp_path_factory, embeddings
):
    """A batch far outside the frozen (lo, hi) envelope saturates the
    encoder — the clamp fraction must trip the re-index signal even
    when the coarse assignment still fits (scaling preserves cosine)."""
    from pyspark.sql import functions as F

    s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_sq_cl")))
    s.write_ivfsq(embeddings, name="sq_cl")
    scaled = embeddings.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(10.0)
        ).cast("array<float>").alias("embedding"),
    )
    meta = s.append("sq_cl", scaled)
    assert meta["appends"][0]["clamp_frac"] > 0.05
    report = s.drift("sq_cl")
    assert report["latest_clamp_frac"] > 0.05
    assert report["recommend_reindex"] is True


def test_append_epoch_is_exactly_once(spark, tmp_path_factory, embeddings):
    """append(epoch=…): a redelivered micro-batch is a no-op — the
    epoch record travels atomically with the committed version's meta,
    so there is no check-then-act window (stronger than a separate
    ledger). Distinct epochs still apply."""
    base = embeddings.filter("vec_id < 350")
    batch = embeddings.filter("vec_id >= 350 AND vec_id < 400")
    batch2 = embeddings.filter("vec_id >= 400")
    s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_epoch")))
    s.write_ivf(base, name="ep")
    n_base = base.count()

    m1 = s.append("ep", batch, epoch=7)
    assert m1["n_vectors"] == n_base + batch.count()
    assert m1["appends"][-1]["epoch"] == 7

    # Redelivery of epoch 7 (same or corrupted payload): skipped.
    m2 = s.append("ep", batch, epoch=7)
    assert m2["n_vectors"] == m1["n_vectors"]
    assert len(m2["appends"]) == len(m1["appends"])

    # A NEW epoch applies on top.
    m3 = s.append("ep", batch2, epoch=8)
    assert m3["n_vectors"] == n_base + batch.count() + batch2.count()
    assert [a.get("epoch") for a in m3["appends"]] == [7, 8]

    # The layout holds each vector exactly once.
    frame, _ = s.read_ivf("ep")
    assert frame.count() == embeddings.count()
    assert frame.select("vec_id").distinct().count() == embeddings.count()

    # Un-epoched appends keep the at-least-once legacy contract
    # (no spurious dedup of epoch-less records).
    s.append("ep", batch2.limit(1))
    assert s.read_ivf("ep")[0].count() == embeddings.count() + 1


def test_append_epoch_tuple_and_reindex_carry(
    spark, tmp_path_factory, embeddings
):
    """Second-pass review pins: (a) a (stream_id, batch_id) tuple epoch
    matches its own JSON-persisted record (lists after round-trip);
    (b) a re-index carries applied epochs forward as absorbed stubs, so
    a post-re-index redelivery is still a no-op."""
    base = embeddings.filter("vec_id < 350")
    batch = embeddings.filter("vec_id >= 350")
    s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_ep2")))
    s.write_ivf(base, name="ep2")

    m1 = s.append("ep2", batch, epoch=("streamA", 0))
    assert m1["appends"][-1]["epoch"] == ["streamA", 0]
    m2 = s.append("ep2", batch, epoch=("streamA", 0))  # redelivery
    assert m2["n_vectors"] == m1["n_vectors"]
    # A different stream's batch 0 is NOT a collision.
    n_before = m2["n_vectors"]
    m3 = s.append("ep2", batch.limit(1), epoch=("streamB", 0))
    assert m3["n_vectors"] == n_before + 1

    # Re-index from the (source-of-truth) full corpus: epochs survive
    # as absorbed markers and the redelivered epoch still skips.
    s.write_ivf(embeddings, name="ep2")
    frame, _ = s.read_ivf("ep2")
    n_reindexed = frame.count()
    m4 = s.append("ep2", batch, epoch=("streamA", 0))
    assert m4["n_vectors"] == n_reindexed  # skipped, not re-applied
    assert any(
        a.get("epoch") == ["streamA", 0] and a.get("absorbed")
        for a in m4["appends"]
    )


def test_appends_history_is_bounded(spark, tmp_path_factory, embeddings):
    """The meta's appends history keeps full stats for the newest
    records and epoch-only markers beyond that — O(1) meta, not
    O(batches-ever)."""
    from sensapp_spark.storage.ann import (
        APPENDS_KEEP_EPOCHS,
        APPENDS_KEEP_STATS,
        _bound_appends,
    )

    long = [
        {"n": 1, "mean_assign_cos": 0.9, "epoch": i} for i in range(1000)
    ]
    bounded = _bound_appends(long)
    assert len(bounded) == APPENDS_KEEP_EPOCHS
    # Newest keep their stats; older shrink to markers.
    assert all("n" in a for a in bounded[-APPENDS_KEEP_STATS:])
    assert all(
        set(a) <= {"epoch", "absorbed"}
        for a in bounded[:-APPENDS_KEEP_STATS]
    )
    # Epoch-less old records drop entirely (nothing to dedup against).
    assert _bound_appends(
        [{"n": 1}] * 100 + [{"n": 2, "epoch": "x"}]
    )[-1]["epoch"] == "x"


class TestDeletesAndState:
    """append(deletes=…) removes vectors in the SAME commit with
    IO bounded to the affected partition dirs, and append(state=…)
    rides the epoch record — the two storage-side halves of the
    changes-feed → index composition (round-10; the streaming loop
    itself is tests/test_stream_ann_maintenance.py)."""

    def _store(self, spark, tmp_path_factory, embeddings, kind):
        s = AnnIndexStore(
            spark, str(tmp_path_factory.mktemp(f"ann_del_{kind}"))
        )
        getattr(s, f"write_{kind}")(embeddings, name="d")
        return s

    @pytest.mark.parametrize("kind", ["ivf", "ivfpq", "ivfsq", "lsh"])
    def test_deletes_remove_rows_across_kinds(
        self, spark, tmp_path_factory, embeddings, kind
    ):
        s = self._store(spark, tmp_path_factory, embeddings, kind)
        dels = embeddings.filter("vec_id < 40")
        meta = s.append(
            "d", embeddings.limit(0), deletes=dels, epoch=("s", 0)
        )
        assert meta["appends"][-1]["n_deleted"] == 40
        data = resolve_table(s._path("d"))
        frame = spark.read.parquet(data)
        assert frame.filter("vec_id < 40").count() == 0
        per_copy = 1  # lsh single-table & ivf kinds store each id once
        assert (
            frame.select("vec_id").distinct().count()
            == embeddings.count() - 40
        )
        assert frame.count() == (embeddings.count() - 40) * per_copy
        if "n_vectors" in meta:
            assert meta["n_vectors"] == embeddings.count() - 40

    def test_multi_table_lsh_deletes_every_copy(
        self, spark, tmp_path_factory, embeddings
    ):
        s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_del_mt")))
        s.write_lsh(embeddings, name="d", n_planes=4, n_tables=3)
        s.append(
            "d", embeddings.limit(0),
            deletes=embeddings.filter("vec_id < 25"),
        )
        frame, _, _ = s.read_lsh("d")
        assert frame.filter("vec_id < 25").count() == 0
        assert frame.count() == (embeddings.count() - 25) * 3

    def test_delete_io_is_partition_bounded(
        self, spark, tmp_path_factory, embeddings
    ):
        """Untouched partition dirs stay HARDLINKS of the previous
        version's files (same inode) — the delete rewrote only the
        directories the deleted ids actually live in."""
        import os

        from sensapp_spark.pipeline.similarity import ivf_assign

        s = self._store(spark, tmp_path_factory, embeddings, "ivf")
        before = resolve_table(s._path("d"))
        _, meta = s._resolve("d", "ivf")
        cents = [
            (int(c), [float(x) for x in v]) for c, v in meta["codebook"]
        ]
        # Delete vectors that all live in ONE centroid partition, so
        # the bounded-IO property is observable.
        assigned = ivf_assign(embeddings, cents)
        one = assigned.select("centroid_id").first().centroid_id
        dels = assigned.filter(
            assigned.centroid_id == one
        ).limit(10).select("vec_id", "embedding")
        hit = {f"centroid_id={int(one)}"}
        s.append("d", embeddings.limit(0), deletes=dels)
        after = resolve_table(s._path("d"))
        assert after != before
        touched, untouched = 0, 0
        for part in os.listdir(before):
            if not part.startswith("centroid_id="):
                continue
            old = {
                f: os.stat(os.path.join(before, part, f)).st_ino
                for f in os.listdir(os.path.join(before, part))
                if f.endswith(".parquet")
            }
            newdir = os.path.join(after, part)
            new = {
                f: os.stat(os.path.join(newdir, f)).st_ino
                for f in os.listdir(newdir)
                if f.endswith(".parquet")
            } if os.path.isdir(newdir) else {}
            if part in hit:
                touched += 1
                assert not set(old) & set(new) or all(
                    old[f] != new.get(f) for f in old if f in new
                )
            else:
                untouched += 1
                assert old == new  # same names, same inodes
        assert touched == len(hit) and untouched > 0

    def test_delete_of_unknown_ids_is_noop(
        self, spark, tmp_path_factory, embeddings
    ):
        from pyspark.sql import functions as F

        s = self._store(spark, tmp_path_factory, embeddings, "ivf")
        ghost = embeddings.filter("vec_id < 5").select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        )
        meta = s.append("d", embeddings.limit(0), deletes=ghost)
        assert meta["appends"][-1]["n_deleted"] == 0
        assert meta["n_vectors"] == embeddings.count()

    def test_same_batch_insert_and_delete(
        self, spark, tmp_path_factory, embeddings
    ):
        """A value update arrives as delete(old)+insert(new) in one
        micro-batch: both apply in one commit."""
        from pyspark.sql import functions as F

        base = embeddings.filter("vec_id < 400")
        s = AnnIndexStore(spark, str(tmp_path_factory.mktemp("ann_updt")))
        s.write_ivf(base, name="d")
        updated = embeddings.filter("vec_id >= 390 AND vec_id < 400").select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        )
        s.append(
            "d", updated,
            deletes=embeddings.filter("vec_id >= 390 AND vec_id < 400"),
        )
        frame, _ = s.read_ivf("d")
        ids = {r.vec_id for r in frame.select("vec_id").collect()}
        assert ids == {int(r.vec_id) for r in base.filter("vec_id < 390")
                       .select("vec_id").collect()} | set(range(1390, 1400))

    def test_state_survives_appends_window_shrink(self):
        from sensapp_spark.storage.ann import (
            APPENDS_KEEP_STATS,
            _bound_appends,
        )

        appends = [
            {"n": 1, "epoch": ["s", i], "state": {"cursor": {"gen": i}}}
            for i in range(APPENDS_KEEP_STATS + 10)
        ]
        bounded = _bound_appends(appends)
        shrunk = [a for a in bounded if "n" not in a]
        assert shrunk and all(
            a["state"]["cursor"]["gen"] == a["epoch"][1] for a in shrunk
        )

    def test_reindex_retrains_and_preserves_kind(
        self, spark, tmp_path_factory, embeddings
    ):
        """reindex() rebuilds each kind with its stored hyperparams and
        an id-space-independent retrained codebook (hashed/sparse ids
        defeat ivf_centroids' dense vec_id<nlist rule)."""
        from pyspark.sql import functions as F

        hashed = embeddings.select(
            F.xxhash64("vec_id").alias("vec_id"), "embedding"
        )
        for kind in ("ivf", "ivfpq", "ivfsq", "lsh"):
            s = AnnIndexStore(
                spark, str(tmp_path_factory.mktemp(f"ann_re_{kind}"))
            )
            getattr(s, f"write_{kind}")(embeddings, name="r")
            meta = s.reindex("r", hashed, epoch=("s", 1),
                             state={"cursor": {"seq": 4}})
            assert meta["kind"] == kind if "kind" in meta else True
            _, m2 = s._resolve("r", None)
            assert m2["kind"] == kind
            assert s.latest_state("r", "s") == {"cursor": {"seq": 4}}
            data = resolve_table(s._path("r"))
            n = spark.read.parquet(data).select("vec_id").distinct().count()
            assert n == embeddings.count()
