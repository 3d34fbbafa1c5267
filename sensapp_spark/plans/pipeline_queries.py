"""Driver-contract entries for the training-data pipeline operators
(dedup, similarity, text analysis, multimodal) over the ``documents`` and
``embeddings`` testdata tables.

Every oracle is generated from the SAME constants the Spark operators
use (regex patterns, hash construction, hyperplanes), so both engines
compute one definition. Hashes are md5-derived on both sides
(Spark ``conv(substr(md5(x),1,16),16,10)`` ≡ DuckDB
``('0x'||substring(md5(x),1,16))::UBIGINT``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensapp_spark.pipeline import assemble as am
from sensapp_spark.pipeline import dedup as dd
from sensapp_spark.pipeline import multimodal as mm
from sensapp_spark.pipeline import text as tx
from sensapp_spark.pipeline.dedup import (
    DEFAULT_BANDS,
    DEFAULT_MAX_BUCKET,
    DEFAULT_MAX_DF,
    DEFAULT_MINHASH_K,
    SIMHASH_BITS,
    dedup_exact,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    neardup_components,
    simhash,
)
from sensapp_spark.pipeline.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    hyperplane_lsh_topk,
    hyperplanes,
    query_bucket,
)

PIPELINE_QUERIES: dict = {}
PIPELINE_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        PIPELINE_QUERIES[name] = fn
        if oracle is not None:
            PIPELINE_ORACLES[name] = oracle
        return fn

    return deco


# Lazy-PLAN memo (round 14 — the load_events precedent): every
# ``spark.read.parquet`` pays a driver-side reader init (file listing +
# footer schema read) per call, and the pipeline entries call these
# loaders once each. Only the unexecuted DataFrame (the plan) is
# memoized — no rows, no materialized state — so every bench/oracle
# invocation still computes from the parquet inputs. Keyed on the
# application id, not ``id(spark)``: a stopped session's id can be
# reused by the next one, whose plans must not be served the dead
# context's frames. The session confs are re-applied on every lookup
# (idempotent), so a memo hit never skips them.
_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _read_memo(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from sensapp_spark.plans.testdata import ensure_session_confs

    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, table)
    cached = _PLAN_MEMO.get(key)
    if cached is None:
        cached = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        _PLAN_MEMO[key] = cached
    return cached


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_memo(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_memo(spark, sf_dir, "embeddings")


# SQL building blocks mirroring text.normalized_text / word_shingles.
_NORM_SQL = (
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
)
_WORDS_SQL = f"regexp_split_to_array(trim({_NORM_SQL}), '\\s+')"
_SHINGLES_CTE = f"""
words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
sh AS (
    SELECT doc_id, unnest(list_distinct(
        [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w)-1)]
    )) AS shingle
    FROM words WHERE len(w) >= 3
)
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_EN = tx.STOPWORDS["en"]

# Bigram-LM perplexity per document, generated once and shared by the
# text_terms and sample_split oracles; requires a `words` CTE named
# `words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)` in scope.
_PPL_FROM_WORDS = """
        WITH bigrams AS (
            SELECT doc_id,
                   unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))])
                   AS gram
            FROM words WHERE len(w) >= 2),
        uni AS (
            SELECT t AS token, COUNT(*) AS c_a
            FROM (SELECT unnest(w) AS t FROM words) GROUP BY 1),
        vv AS (
            SELECT COUNT(DISTINCT t)::DOUBLE AS v
            FROM (SELECT unnest(w) AS t FROM words)),
        bi AS (SELECT gram, COUNT(*) AS c_ab FROM bigrams GROUP BY 1)
        SELECT doc_id,
               ROUND(exp(-AVG(ln((c_ab + 0.5) / (c_a + 0.5 * v)))), 4)
               AS perplexity
        FROM bigrams JOIN bi USING (gram)
        JOIN uni ON split_part(gram, ' ', 1) = token
        CROSS JOIN vv
        GROUP BY doc_id"""

# Benchmark-decontamination CTE chain (trigram collisions vs the
# doc_id % 97 held-out slice), shared by the text_signals and
# sample_split oracles; requires the `words` CTE in scope. Ends with
# `decontam(doc_id, n_collisions, contaminated)`.
_DECONTAM_CTES = """bench_grams AS (
        SELECT DISTINCT unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)])
               AS shingle
        FROM words WHERE len(w) >= 3 AND doc_id % 97 = 0),
    doc_grams AS (
        SELECT doc_id,
               unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]))
               AS shingle
        FROM words WHERE len(w) >= 3),
    coll AS (
        SELECT doc_id, COUNT(*) AS n_collisions
        FROM doc_grams JOIN bench_grams USING (shingle) GROUP BY doc_id),
    decontam AS (
        SELECT d.doc_id,
               COALESCE(c.n_collisions, 0) AS n_collisions,
               COALESCE(c.n_collisions, 0) >= 2 AS contaminated
        FROM documents d LEFT JOIN coll c USING (doc_id))"""

# Per-document quality CTE (mirrors text.quality_score_cols) — shared by
# the text_profile oracle and the text_terms source-quality rollup.
_QUAL_CTE = f"""qual AS (
        SELECT doc_id, source,
               len_credit, stop_ratio, punct_ratio, digit_ratio,
          CAST(ROUND(
                {tx.QUALITY_WEIGHTS['w_len']}::DECIMAL(4,2)
                  * len_credit::DECIMAL(18,6)
              + {tx.QUALITY_WEIGHTS['w_stop']}::DECIMAL(4,2)
                  * LEAST(stop_ratio::DECIMAL(18,6) * 2,
                          1::DECIMAL(18,6))::DECIMAL(18,6)
              + {tx.QUALITY_WEIGHTS['w_punct']}::DECIMAL(4,2)
                  * punct_ratio::DECIMAL(18,6)
              + {tx.QUALITY_WEIGHTS['w_digit']}::DECIMAL(4,2)
                  * digit_ratio::DECIMAL(18,6), 6) AS DOUBLE) AS quality
        FROM (
          -- zero denominators (empty/whitespace text) yield NULL,
          -- mirroring text.quality_score_cols' ANSI-safe guards
          SELECT doc_id, source,
            ROUND(LEAST(length(text)/500.0e0, 1.0e0), 6) AS len_credit,
            CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) > 0 THEN
              ROUND(len(regexp_extract_all(lower(text), '\\b({_STOP_EN})\\b'))
                / CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS DOUBLE), 6) END AS stop_ratio,
            CASE WHEN length(text) > 0 THEN
              ROUND(len(regexp_extract_all(text, '{tx.PUNCT_PATTERN}'))
                / CAST(length(text) AS DOUBLE), 6) END AS punct_ratio,
            CASE WHEN length(text) > 0 THEN
              ROUND(len(regexp_extract_all(text, '{tx.DIGIT_PATTERN}'))
                / CAST(length(text) AS DOUBLE), 6) END AS digit_ratio
          FROM documents))"""


@register(
    "text_profile",
    f"""
    WITH toks AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
               len(regexp_extract_all(text, '{tx.BPE_PATTERN}')) AS bpe_tokens,
               length(text) AS chars
        FROM documents),
    {_QUAL_CTE},
    ttr AS (
        SELECT doc_id,
               len(w) AS total_tokens,
               len(list_distinct(w)) AS distinct_tokens,
               ROUND(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 6) AS ttr
        FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)),
    ngrams AS (
        SELECT doc_id,
          CASE WHEN len(w) >= 2 THEN
            [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
          ELSE []::VARCHAR[] END AS g2,
          CASE WHEN len(w) >= 3 THEN
            [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             FOR i IN range(1, len(w) - 1)]
          ELSE []::VARCHAR[] END AS g3
        FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)),
    rep AS (
        SELECT doc_id,
          len(g2) AS bigram_total,
          CASE WHEN len(g2) > 0 THEN
            ROUND(list_max(list_transform(list_distinct(g2),
                    x -> len(list_filter(g2, y -> y = x))))
                  / CAST(len(g2) AS DOUBLE), 6) END AS top_bigram_frac,
          len(g3) AS trigram_total,
          CASE WHEN len(g3) > 0 THEN
            ROUND(1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6)
          END AS dup_trigram_frac
        FROM ngrams)
    SELECT doc_id, ws_tokens, bpe_tokens, chars,
           len_credit, stop_ratio, punct_ratio, digit_ratio, quality,
           total_tokens, distinct_tokens, ttr,
           bigram_total, top_bigram_frac, trigram_total, dup_trigram_frac
    FROM toks JOIN qual USING (doc_id) JOIN ttr USING (doc_id)
         JOIN rep USING (doc_id)
    """,
)
def text_profile(spark, sf_dir):
    """Per-document text profile as one fused entry (driver window caps
    at 50 rows): token counting (whitespace + BPE-ish regex), quality
    scoring (length/stopword/punct/digit composite), lexical diversity
    (type-token ratio), and Gopher-style repetition signals (top-bigram
    fraction, duplicate-trigram fraction). All four operators expose
    their column expressions, so the union is ONE narrow two-stage
    projection over ONE scan — zero joins, zero shuffles (the earlier
    join-of-four-projections shape re-scanned the corpus 4x and
    broadcast 3 frames; at 100 TB the broadcasts would flip to shuffled
    joins). The token and gram arrays materialize in their own inner
    stages (see ``repetition_signals`` for why), and a below-core-count
    scan spreads to full parallelism before the per-row HOF work
    (``spread_if_needed`` — no-op at real scale)."""
    docs = tx.spread_if_needed(_docs(spark, sf_dir))
    staged = docs.select("doc_id", "text", tx.words_col()).select(
        "doc_id", "text", F.col("__words"), *tx.gram_cols()
    )
    return staged.select(
        "doc_id",
        *tx.token_stat_cols(),
        *tx.quality_score_cols(),
        *tx.ttr_cols(),
        *tx.repetition_cols(),
    )


def _signals_oracle() -> str:
    hits = ", ".join(
        f"len(regexp_extract_all(lower(text), '\\b({tx.STOPWORDS[lang]})\\b'))"
        f" AS hits_{lang}"
        for lang in tx.LANG_PRIORITY
    )
    best = "GREATEST(" + ", ".join(f"hits_{lang}" for lang in tx.LANG_PRIORITY) + ")"
    cases = " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in tx.LANG_PRIORITY
    )
    pii_counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS {name}"
        for name, pat in tx.PII_PATTERNS.items()
    )
    pii_total = " + ".join(tx.PII_PATTERNS)
    return f"""
    WITH lang AS (
        SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
               CASE WHEN {best} = 0 THEN 'und' {cases} END AS lang_pred
        FROM (SELECT doc_id, text, {hits} FROM documents)),
    fp AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents),
    pii AS (
        SELECT doc_id, emails, phones, ipv4s, ({pii_total}) > 0 AS has_pii
        FROM (SELECT doc_id, {pii_counts} FROM documents)),
    words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    {_DECONTAM_CTES},
    dsir_feats AS (
        SELECT doc_id,
               ('0x' || substring(md5(g), 1, 8))::UBIGINT % 10000 AS f
        FROM (
            SELECT doc_id, unnest(
                w || CASE WHEN len(w) >= 2
                     THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                     ELSE []::VARCHAR[] END) AS g
            FROM words)),
    dsir_counts AS (
        SELECT f, COUNT(*) AS cr,
               COUNT(*) FILTER (WHERE lang = 'en') AS ct
        FROM dsir_feats
        JOIN (SELECT doc_id, lang FROM documents) USING (doc_id)
        GROUP BY f),
    dsir_model AS (
        SELECT f,
               ln(ct + 1) - ln((SELECT SUM(ct) FROM dsir_counts) + 10000)
             - ln(cr + 1) + ln((SELECT SUM(cr) FROM dsir_counts) + 10000)
                 AS term
        FROM dsir_counts),
    dsir AS (
        SELECT doc_id, ROUND(SUM(term), 6) AS dsir_logratio,
               ln((('0x' || substring(md5('sensapp-dsir:'
                      || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                    % 1000000 + 0.5) / 1000000.0)
                 < ROUND(SUM(term), 6) AS dsir_kept
        FROM dsir_feats JOIN dsir_model USING (f)
        GROUP BY doc_id)
    SELECT doc_id, hits_en, hits_de, hits_fr, hits_es, lang_pred,
           fingerprint, emails, phones, ipv4s, has_pii,
           n_collisions, contaminated, dsir_logratio, dsir_kept
    FROM lang JOIN fp USING (doc_id) JOIN pii USING (doc_id)
         JOIN decontam USING (doc_id) JOIN dsir USING (doc_id)
    """


@register("text_signals", _signals_oracle())
def text_signals(spark, sf_dir):
    """Per-document content signals as one joined entry: language ID
    (stopword-hit argmax, fixed tie-break order), the md5 content
    fingerprint over normalized text, PII triage counts (emails /
    phones / IPv4 — the synthetic corpus is PII-free, so the value here
    is the shared regex-dialect contract; positive matches are covered
    by unit tests), and benchmark decontamination (distinct trigram
    collisions against a held-out benchmark slice, broadcast-joined).
    Language/fingerprint/PII fuse into one narrow projection over one
    scan (see ``text_profile``); the decontam frame is a doc_id-keyed
    aggregation with map-side combine. Round 9 adds DSIR importance
    resampling (hashed-n-gram log-likelihood ratio against the
    English-slice target model, arXiv:2302.03169) — the model table is
    feature-bucket-bounded (≤10k rows) and broadcasts; see
    ``sampling.dsir_weights`` for the scale shape."""
    from sensapp_spark.pipeline.sampling import dsir_weights

    raw = _docs(spark, sf_dir)
    out = tx.with_pii_flag(
        tx.spread_if_needed(raw).select(
            "doc_id",
            *tx.lang_id_cols(),
            *tx.fingerprint_cols(),
            *tx.pii_count_cols(),
        )
    )
    # The gram path spreads inside dedup._tokenized — hand it the raw
    # scan so the corpus is not repartitioned twice.
    bench = raw.filter(F.col("doc_id") % 97 == 0)
    hits = dd.benchmark_collision_hits(raw, bench, n=3)
    dsir = dsir_weights(raw, raw.filter(F.col("lang") == "en"))
    return dd.attach_collisions(out, hits, threshold=2).join(
        # Aggregation-derived frame → unreliable estimate; pin the
        # per-doc equality join off sort-merge.
        dsir.hint("shuffle_hash"),
        "doc_id",
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------



# 64/16 token-window chunk stream, generated from the SAME parameters as
# text.chunk_plan(chunk_tokens=64, overlap=16): (doc_id, token_start,
# chunk) rows, one per window. Shared by the dedup_exact_docs and
# multimodal_frames oracles so the window arithmetic cannot drift.
_CHUNK_TOKENS = 64
_CHUNK_OVERLAP = 16
_CHUNK_STEP = _CHUNK_TOKENS - _CHUNK_OVERLAP
_CHUNKS_SQL = f"""
        SELECT doc_id, token_start,
               list_slice(w, token_start + 1,
                          token_start + {_CHUNK_TOKENS}) AS chunk
        FROM (
            SELECT doc_id, w,
                   unnest(generate_series(
                       0,
                       GREATEST(0, CAST(FLOOR((len(w) - {_CHUNK_OVERLAP + 1})::DOUBLE
                                              / {_CHUNK_STEP})
                                        AS INT) * {_CHUNK_STEP}),
                       {_CHUNK_STEP})) AS token_start
            FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents))"""


@register(
    "dedup_exact_docs",
    f"""
    SELECT 'doc' AS scope, md5({_NORM_SQL}) AS fp,
           MIN(doc_id) AS keep_doc_id, COUNT(*) AS copies
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'chunk', fp, MIN(doc_id), COUNT(*)
    FROM (
        SELECT doc_id, md5(array_to_string(chunk, ' ')) AS fp
        FROM ({_CHUNKS_SQL}))
    GROUP BY 2
    """,
)
def dedup_exact_docs(spark, sf_dir):
    """Exact dedup at both content grains as one tagged union:

    * ``doc``: whole-document content-hash groupBy (shuffles 16-byte
      keys, not text).
    * ``chunk``: the same keep-MIN rule over 64/16 token-window chunk
      fingerprints (``text.chunk_plan``) — span-level dedup, which
      catches boilerplate shared across otherwise-distinct documents
      that document-grain dedup misses. Same plan shape: fingerprints
      computed map-side, one groupBy on the 16-byte key.
    """
    docs = _docs(spark, sf_dir)
    doc_grain = dedup_exact(docs).select(
        F.lit("doc").alias("scope"), "fp", "keep_doc_id", "copies"
    )
    chunk_grain = (
        tx.chunk_plan(docs, chunk_tokens=64, overlap=16)
        .groupBy(F.col("chunk_fp").alias("fp"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("copies"),
        )
        .select(F.lit("chunk").alias("scope"), "fp", "keep_doc_id", "copies")
    )
    return doc_grain.unionByName(chunk_grain)


# The max_df hot-shingle guard (defaults ON in jaccard_pairs) expressed
# in SQL: shingles above the document-frequency cap are dropped BEFORE
# per-doc counts, exactly as the Spark side does.
_SHF_CTE = f"""
    cold AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) <= {DEFAULT_MAX_DF}),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN cold USING (shingle))
"""


@register(
    "dedup_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE}, {_SHF_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM shf a JOIN shf b USING (shingle)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    counts_all AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter_all AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    grams AS (
        SELECT doc_id,
            CASE WHEN len(w) >= 5 THEN
                [array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w) - 3)]
            ELSE []::VARCHAR[] END AS gs
        FROM words),
    h AS (
        SELECT doc_id,
               [('0x' || substring(md5(g), 1, 16))::UBIGINT FOR g IN gs]
               AS hs
        FROM grams),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id, unnest(
                CASE WHEN len(hs) >= 4 THEN
                    list_distinct(
                        [list_min(hs[j:j+3]) FOR j IN range(1, len(hs) - 2)])
                WHEN len(hs) > 0 THEN [list_min(hs)]
                ELSE []::UBIGINT[] END) AS fp
            FROM h)),
    kept AS (
        SELECT fps.doc_id, fps.fp FROM fps
        JOIN (SELECT fp FROM fps GROUP BY fp
              HAVING COUNT(*) <= {DEFAULT_MAX_DF}) hot USING (fp))
    SELECT 'inverted' AS scope, doc_a, doc_b,
           ROUND(i / CAST(ca.n + cb.n - i AS DOUBLE), 6) AS score
    FROM inter
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE ROUND(i / CAST(ca.n + cb.n - i AS DOUBLE), 6) >= 0.2
    UNION ALL
    SELECT 'prefix', doc_a, doc_b,
           ROUND(i / CAST(ca.n + cb.n - i AS DOUBLE), 6)
    FROM inter_all
    JOIN counts_all ca ON ca.doc_id = doc_a
    JOIN counts_all cb ON cb.doc_id = doc_b
    WHERE ROUND(i / CAST(ca.n + cb.n - i AS DOUBLE), 6) >= 0.2
    UNION ALL
    SELECT 'winnow', a.doc_id, b.doc_id, CAST(COUNT(*) AS DOUBLE)
    FROM kept a JOIN kept b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 2, 3 HAVING COUNT(*) >= 2
    """,
)
def dedup_jaccard_pairs(spark, sf_dir):
    """Span/set near-dup pair generators as one tagged union:

    * ``inverted`` — n-gram Jaccard via the guarded inverted-index join
      (max_df skew guard ON, mirrored in the oracle) — the flat-profile
      production default.
    * ``prefix`` — PPJoin prefix-filtered Jaccard
      (``jaccard_pairs_prefix``): rare-first prefix index + length
      filter + sorted-array verify, EXACT (no guard), so its oracle arm
      is the plain unguarded Jaccard definition. The Zipf-profile
      alternative (BASELINE.md §"Prefix-filter experiment": measured
      faster AND exact on long-tailed shingle frequencies).
    * ``winnow`` — winnowing-fingerprint candidates (MOSS / The Stack's
      code-dedup algorithm): per-doc window minima over word 5-gram
      hashes (one scan, per-doc HOFs, no shuffle), pair counts via the
      guarded inverted-index join over the winnowed sets. A shared
      fingerprint witnesses a common run of >= k + window - 1 = 8
      words, so the score counts copied spans — complementary to
      Jaccard's set overlap and SimHash's bit proximity.
    """
    from sensapp_spark.pipeline.dedup import (
        jaccard_pairs_prefix,
        winnow_pairs,
    )

    docs = _docs(spark, sf_dir)
    inverted = jaccard_pairs(docs, threshold=0.2).select(
        F.lit("inverted").alias("scope"), "doc_a", "doc_b",
        F.col("jaccard").alias("score"),
    )
    prefix = jaccard_pairs_prefix(docs, threshold=0.2).select(
        F.lit("prefix").alias("scope"), "doc_a", "doc_b",
        F.col("jaccard").alias("score"),
    )
    winnow = winnow_pairs(docs, min_shared=2).select(
        F.lit("winnow").alias("scope"), "doc_a", "doc_b",
        F.col("shared").cast("double").alias("score"),
    )
    return inverted.unionByName(prefix).unionByName(winnow)


@register(
    "dedup_components",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_SHF_CTE},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM shf a JOIN shf b USING (shingle)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b FROM inter
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
        WHERE ROUND(i / CAST(ca.n + cb.n - i AS DOUBLE), 6) >= 0.2),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
        SELECT src AS doc_id, src AS peer FROM edges
        UNION
        SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.peer)
    SELECT doc_id, MIN(peer) AS component FROM reach GROUP BY doc_id
    """,
)
def dedup_components(spark, sf_dir):
    """Near-dup clusters: connected components (iterative min-label
    propagation) over the Jaccard pair graph — the transitive-closure
    step every production dedup needs after pair generation. The oracle
    computes the same components with a recursive CTE."""
    pairs = jaccard_pairs(_docs(spark, sf_dir), threshold=0.2)
    return neardup_components(pairs)


# Kirsch-Mitzenmacher double hashing, mirroring dedup.minhash_signatures:
# one md5 per shingle, h1 = first 15 hex chars (60 bits), h2 = next 13
# (52 bits), family i = h1 + i*h2 (< 2^61, fits BIGINT both engines).
_MH_H = (
    "hashed AS (SELECT doc_id, "
    "('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h1, "
    "('0x' || substring(md5(shingle), 16, 13))::BIGINT AS h2 FROM sh)"
)


def _minhash_sig_sql() -> str:
    mins = ", ".join(
        f"MIN(h1 + {i} * h2) AS mh_{i}" for i in range(DEFAULT_MINHASH_K)
    )
    return (
        f"WITH {_SHINGLES_CTE}, {_MH_H} "
        f"SELECT doc_id, {mins} FROM hashed GROUP BY doc_id"
    )


@register("dedup_minhash_signatures", _minhash_sig_sql())
def dedup_minhash_signatures(spark, sf_dir):
    """MinHash signatures: k md5 families, min-combined map-side."""
    return minhash_signatures(_docs(spark, sf_dir))


def _lsh_oracle() -> str:
    rows = DEFAULT_MINHASH_K // DEFAULT_BANDS
    band_keys = ", ".join(
        "(" + str(b) + ", "
        + " || '_' || ".join(
            f"mh_{b * rows + j}::VARCHAR" for j in range(rows)
        ) + ")"
        for b in range(DEFAULT_BANDS)
    )
    # DuckDB lacks lateral VALUES over columns; use UNION ALL per band.
    selects = " UNION ALL ".join(
        "SELECT doc_id, " + str(b) + " AS band, "
        + " || '_' || ".join(f"mh_{b * rows + j}::VARCHAR" for j in range(rows))
        + " AS key FROM sigs"
        for b in range(DEFAULT_BANDS)
    )
    return f"""
    WITH {_SHINGLES_CTE}, {_MH_H},
    sigs AS (
        SELECT doc_id, {", ".join(
            f"MIN(h1 + {i} * h2) AS mh_{i}"
            for i in range(DEFAULT_MINHASH_K))}
        FROM hashed GROUP BY doc_id),
    banded AS ({selects}),
    -- max_bucket star-edge guard, mirrored from
    -- pipeline/dedup.minhash_lsh_candidates: oversized buckets emit
    -- hub→member edges instead of cliques.
    bs AS (
        SELECT banded.*,
               COUNT(*) OVER (PARTITION BY band, key) AS sz,
               MIN(doc_id) OVER (PARTITION BY band, key) AS hub
        FROM banded),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bs a JOIN bs b ON a.band = b.band AND a.key = b.key
        WHERE a.sz <= {DEFAULT_MAX_BUCKET} AND a.doc_id < b.doc_id
        UNION ALL
        SELECT hub, doc_id FROM bs
        WHERE sz > {DEFAULT_MAX_BUCKET} AND doc_id <> hub)
    SELECT doc_a, doc_b, COUNT(*) AS band_hits
    FROM pairs
    GROUP BY 1, 2
    """


@register("dedup_minhash_lsh", _lsh_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    """LSH banding: candidate pairs from band-key equality joins."""
    return minhash_lsh_candidates(_docs(spark, sf_dir))


def _simhash_oracle() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h // {2**i}) % 2 = 1 THEN 1 ELSE -1 END) AS b_{i}"
        for i in range(SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN b_{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {8 * b}) & 255 AS key FROM sig"
        for b in range(4)
    )
    return f"""
    WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS token FROM words),
    h AS (SELECT doc_id,
                 ('0x' || substring(md5(token), 1, 8))::UBIGINT AS h FROM tok),
    sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({value} AS BIGINT) AS simhash FROM sums),
    banded AS ({band_selects}),
    -- max_bucket star-edge guard, mirrored from dedup.simhash_pairs
    bs AS (
        SELECT banded.*,
               COUNT(*) OVER (PARTITION BY band, key) AS sz,
               FIRST_VALUE(doc_id) OVER (
                   PARTITION BY band, key ORDER BY doc_id) AS hub,
               FIRST_VALUE(simhash) OVER (
                   PARTITION BY band, key ORDER BY doc_id) AS hub_sig
        FROM banded),
    cl AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM bs a JOIN bs b ON a.band = b.band AND a.key = b.key
        WHERE a.sz <= {DEFAULT_MAX_BUCKET} AND a.doc_id < b.doc_id
          AND bit_count(xor(a.simhash, b.simhash)) <= 3),
    st AS (
        SELECT hub AS doc_a, doc_id AS doc_b,
               bit_count(xor(hub_sig, simhash)) AS hamming
        FROM bs WHERE sz > {DEFAULT_MAX_BUCKET} AND doc_id <> hub)
    SELECT 'sig' AS scope, doc_id AS a, CAST(NULL AS BIGINT) AS b,
           simhash AS val
    FROM sig
    UNION ALL
    SELECT 'pair', doc_a, doc_b, CAST(MAX(hamming) AS BIGINT)
    FROM (SELECT * FROM cl UNION ALL SELECT * FROM st)
    GROUP BY 2, 3
    """


@register("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark, sf_dir):
    """SimHash as one tagged union: the 32-bit per-document signature
    (Charikar sign aggregation) AND the near-duplicate pairs it yields
    via byte banding + exact Hamming verification
    (``dedup.simhash_pairs`` — pigeonhole-complete for distance <= 3,
    star-edge guarded against mass duplication)."""
    docs = _docs(spark, sf_dir)
    sigs = simhash(docs).select(
        F.lit("sig").alias("scope"),
        F.col("doc_id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("simhash").alias("val"),
    )
    pairs = dd.simhash_pairs(docs).select(
        F.lit("pair").alias("scope"),
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.col("hamming").alias("val"),
    )
    return sigs.unionByName(pairs)


# ---------------------------------------------------------------------------
# Deterministic sampling / dataset splits
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 50, "de": 30}
_SAMPLE_DEFAULT = 10

# Temperature-mix member: synthetic per-source weights (source srcN gets
# weight N+1) at T=2 — rates ∝ w^(1/T − 1), computed ONCE driver-side
# and inlined identically into the Spark plan and the SQL oracle.
_MIX_WEIGHTS = {f"src{i}": i + 1 for i in range(20)}
_MIX_T = 2.0


def _mix_ppm() -> dict[str, int]:
    from sensapp_spark.pipeline.sampling import mix_rates

    return mix_rates(_MIX_WEIGHTS, _MIX_T)


def _mix_case_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN {p}" for s, p in _mix_ppm().items()
    )
    return f"CASE source {arms} ELSE 0 END"


def _bucket_sql(salt: str, buckets: int = 100) -> str:
    return (
        f"(('0x' || substring(md5('{salt}:' || CAST(doc_id AS VARCHAR)),"
        f" 1, 8))::UBIGINT % {buckets})::INT"
    )


# ---------------------------------------------------------------------------
# Corpus-trained BPE (pipeline/bpe.py) — the DuckDB replay of the FULL
# training loop, unrolled one CTE pair per merge round exactly like the
# kmeans oracle unrolls its Lloyd rounds. Each round: distributed pair
# count over the word table (frequency-weighted adjacent symbol pairs),
# deterministic argmax (count DESC, then lexicographic pair), then the
# merge applied as PASSES literal separator-framed replaces — the same
# DEFINED semantics bpe.py documents, so both engines compute one
# function. Requires the `words` CTE in scope; ends with
# `bpe_words(word, n_tokens)` plus per-round `bm{i}` merge rows.
# ---------------------------------------------------------------------------

BPE_MERGES = 10


def _bpe_ctes(n: int = BPE_MERGES) -> str:
    from sensapp_spark.pipeline.bpe import PASSES

    s = "chr(31)"
    parts = [f"""bw0 AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq,
               {s} || regexp_replace(word, '(.)', '\\1' || {s}, 'g')
                 AS sym
        FROM (SELECT unnest(w) AS word FROM words)
        WHERE length(word) > 0
        GROUP BY word)"""]
    for i in range(n):
        pat = f"{s} || m.a || {s} || m.b || {s}"
        rep = f"{s} || m.a || m.b || {s}"
        applied = "sym"
        for _ in range(PASSES):
            applied = f"replace({applied}, {pat}, {rep})"
        parts.append(f"""bp{i} AS MATERIALIZED (
        SELECT s[j] AS a, s[j+1] AS b, SUM(freq) AS cnt
        FROM (SELECT freq, string_split(sym, {s}) AS s FROM bw{i}),
             UNNEST(generate_series(2, len(s) - 2)) AS t(j)
        GROUP BY 1, 2),
    bm{i} AS MATERIALIZED (
        SELECT a, b, cnt FROM bp{i} WHERE cnt >= 2
        ORDER BY cnt DESC, a, b LIMIT 1),
    bw{i + 1} AS MATERIALIZED (
        SELECT word, freq,
               CASE WHEN m.a IS NULL THEN sym ELSE {applied} END AS sym
        FROM bw{i} LEFT JOIN bm{i} m ON TRUE)""")
    parts.append(f"""bpe_words AS MATERIALIZED (
        SELECT word,
               CAST(length(sym) - length(replace(sym, {s}, '')) - 1
                    AS BIGINT) AS n_tokens
        FROM bw{n})""")
    return ",\n    ".join(parts)


def _bpe_merge_rows_sql(n: int = BPE_MERGES) -> str:
    return "\n    UNION ALL\n    ".join(
        f"SELECT 'bpe_merge' AS scope, CAST({i} AS BIGINT) AS doc_id, "
        f"a || ' ' || b AS term, CAST(cnt AS DOUBLE) AS score FROM bm{i}"
        for i in range(n)
    )


# Per-doc BPE token totals; COALESCE(0) keeps empty documents (mirrors
# bpe.bpe_token_counts joined back over the full docs frame).
_BPE_DOC_SQL = """bpe_doc AS (
        SELECT d.doc_id, COALESCE(b.n, CAST(0 AS BIGINT)) AS bpe_len
        FROM documents d LEFT JOIN (
            SELECT doc_id, CAST(SUM(n_tokens) AS BIGINT) AS n
            FROM (SELECT doc_id, unnest(w) AS word FROM words)
            JOIN bpe_words USING (word)
            WHERE length(word) > 0
            GROUP BY doc_id) b USING (doc_id))"""


def _bpe_model(spark, docs):
    """Train the registry's BPE arms (shared constants with the
    oracle); returns (merge-rows frame, per-doc token-count frame)."""
    from sensapp_spark.pipeline.bpe import bpe_token_counts, train_bpe

    model = train_bpe(
        docs, num_merges=BPE_MERGES, table_partitions=1
    )
    rows = [
        (i, f"{a} {b}", float(c))
        for i, (a, b, c) in enumerate(model.merges)
    ]
    merges = spark.createDataFrame(
        rows, "doc_id long, term string, score double"
    )
    return merges, bpe_token_counts(docs, model)


@register(
    "sample_split",
    f"""
    WITH strat AS (
        SELECT doc_id, lang, {_bucket_sql('sensapp-sample')} AS bucket
        FROM documents
        WHERE {_bucket_sql('sensapp-sample')} <
              CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 ELSE 10 END),
    splits AS (
        SELECT doc_id,
               CASE WHEN {_bucket_sql('sensapp-split')} < 80 THEN 'train'
                    WHEN {_bucket_sql('sensapp-split')} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents),
    mix AS (
        SELECT doc_id FROM documents
        WHERE {_bucket_sql('sensapp-mix', 1000000)} < {_mix_case_sql()}),
    packing AS (
        SELECT doc_id, tok_len,
               (cum - tok_len) // 2048 AS pack_seq,
               (cum - tok_len) % 2048 AS pack_off,
               ((cum - tok_len + GREATEST(tok_len, 1) - 1) // 2048)
                 - ((cum - tok_len) // 2048) + 1 AS pack_n_seqs
        FROM (
            SELECT doc_id, tok_len,
                   -- CAST: DuckDB's SUM(BIGINT) window is HUGEINT,
                   -- which pandas renders as float64 and breaks the
                   -- dtype half of the parity check (the values were
                   -- always equal).
                   CAST(SUM(tok_len) OVER (
                       ORDER BY hkey, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM (
                SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\\s+'))
                         AS tok_len,
                       md5('sensapp-pack:' || CAST(doc_id AS VARCHAR))
                         AS hkey
                FROM documents))),
    words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    {_bpe_ctes()},
    {_BPE_DOC_SQL},
    bpacking AS (
        SELECT doc_id, tok_len AS bpe_tok_len,
               (cum - tok_len) // 2048 AS bpe_pack_seq,
               (cum - tok_len) % 2048 AS bpe_pack_off,
               ((cum - tok_len + GREATEST(tok_len, 1) - 1) // 2048)
                 - ((cum - tok_len) // 2048) + 1 AS bpe_pack_n_seqs
        FROM (
            SELECT doc_id, bpe_len AS tok_len,
                   CAST(SUM(bpe_len) OVER (
                       ORDER BY hkey, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum
            FROM (
                SELECT doc_id, bpe_len,
                       md5('sensapp-pack:' || CAST(doc_id AS VARCHAR))
                         AS hkey
                FROM bpe_doc))),
    {_DECONTAM_CTES},
    {_QUAL_CTE},
    canon AS (
        SELECT md5({_NORM_SQL}) AS fp, MIN(doc_id) AS keep_doc_id
        FROM documents GROUP BY 1),
    dup AS (
        SELECT doc_id, doc_id <> keep_doc_id AS is_dup
        FROM (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents)
        JOIN canon USING (fp)),
    ppl AS ({_PPL_FROM_WORDS}),
    verdict AS (
        SELECT q.doc_id,
               CASE WHEN dup.is_dup THEN 'duplicate'
                    WHEN dc.n_collisions >= 2 THEN 'contaminated'
                    WHEN q.quality IS NULL OR q.quality < {am.DEFAULT_MIN_QUALITY}
                        THEN 'low_quality'
                    WHEN ppl.perplexity > {am.DEFAULT_MAX_PERPLEXITY}
                        THEN 'high_perplexity'
               END AS drop_reason
        FROM qual q
        JOIN dup USING (doc_id)
        JOIN decontam dc USING (doc_id)
        LEFT JOIN ppl USING (doc_id))
    SELECT d.doc_id, sp.split,
           st.doc_id IS NOT NULL AS sampled, st.bucket, st.lang,
           v.drop_reason IS NULL AS kept, v.drop_reason,
           mx.doc_id IS NOT NULL AS mix_kept,
           pk.tok_len, pk.pack_seq, pk.pack_off, pk.pack_n_seqs,
           bp.bpe_tok_len, bp.bpe_pack_seq, bp.bpe_pack_off,
           bp.bpe_pack_n_seqs
    FROM documents d
    JOIN splits sp USING (doc_id)
    LEFT JOIN strat st USING (doc_id)
    JOIN verdict v USING (doc_id)
    LEFT JOIN mix mx USING (doc_id)
    JOIN packing pk USING (doc_id)
    JOIN bpacking bp USING (doc_id)
    """,
)
def sample_split(spark, sf_dir):
    """Deterministic sampling + dataset splits as one joined entry:
    every document gets its 80/10/10 train/val/test assignment from a
    salted content-hash bucket, whether the stratified sampler
    (per-language keep rates, independent salt) selected it, and
    whether the TEMPERATURE-MIX sampler kept it (round 6: per-source
    keep rates ∝ w^(1/T − 1) — the pretraining source-mixing sampler,
    reproducible ppm-granular hash buckets). Round 9 adds the
    SEQUENCE-PACKING manifest (GPT-style concat-and-chunk into
    2048-token sequences, arXiv:2005.14165 §2.2) — a two-phase
    distributed prefix sum whose only global object is the 256-row
    bucket-offset table; the oracle replays it as one plain window
    cumsum. Reproducible across engines and runs; every derivation is
    a map-only scan, the joins are per-document."""
    from sensapp_spark.pipeline.assemble import corpus_verdict
    from sensapp_spark.pipeline.packing import pack_manifest
    from sensapp_spark.pipeline.sampling import (
        split_assign,
        stratified_sample,
        temperature_mix,
    )

    docs = _docs(spark, sf_dir)
    splits = split_assign(docs).select("doc_id", "split")
    strat = stratified_sample(
        docs, _SAMPLE_RATES, default_pct=_SAMPLE_DEFAULT
    ).select("doc_id", "bucket", "lang")
    mix = temperature_mix(docs, _MIX_WEIGHTS, _MIX_T).select(
        "doc_id", F.lit(True).alias("mix_kept")
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    verdict = corpus_verdict(docs, bench)
    return (
        docs.select("doc_id")
        .join(splits, "doc_id")
        .join(
            strat.withColumn("sampled", F.lit(True)), "doc_id", "left"
        )
        # shuffle_hash: the verdict frame sits behind joins of
        # unreliable-estimate frames — without the hint this equality
        # join planned as a sort-merge (registry-wide join-shape test).
        .join(verdict.hint("shuffle_hash"), "doc_id")
        .join(mix, "doc_id", "left")
        # Window-derived frame → no reliable size estimate; pin the
        # equality join to shuffle_hash like the verdict join above.
        .join(pack_manifest(docs).hint("shuffle_hash"), "doc_id")
        .join(_bpe_pack(spark, docs).hint("shuffle_hash"), "doc_id")
        .select(
            "doc_id", "split",
            F.coalesce("sampled", F.lit(False)).alias("sampled"),
            "bucket", "lang", "kept", "drop_reason",
            F.coalesce("mix_kept", F.lit(False)).alias("mix_kept"),
            "tok_len", "pack_seq", "pack_off", "pack_n_seqs",
            "bpe_tok_len", "bpe_pack_seq", "bpe_pack_off",
            "bpe_pack_n_seqs",
        )
    )


def _bpe_pack(spark, docs):
    """The packing manifest in TRAINED-BPE token units (round 10): the
    same two-phase distributed prefix sum, fed by the corpus-trained
    tokenizer's per-doc lengths instead of the whitespace count —
    manifest arithmetic in the unit a pretraining loader consumes."""
    from sensapp_spark.pipeline.packing import pack_manifest

    _, blen = _bpe_model(spark, docs)
    # shuffle_hash: doc_id is high-cardinality and both sides are
    # corpus-sized — hash join skips SMJ's two sorts (the same hint
    # every other doc_id join in this family carries; the plan gate
    # pins it).
    docs_b = docs.join(
        blen.hint("shuffle_hash"), "doc_id", "left"
    ).withColumn(
        "bpe_len", F.coalesce(F.col("bpe_len"), F.lit(0))
    )
    return pack_manifest(docs_b, token_count=F.col("bpe_len")).select(
        "doc_id",
        F.col("tok_len").alias("bpe_tok_len"),
        F.col("pack_seq").alias("bpe_pack_seq"),
        F.col("pack_off").alias("bpe_pack_off"),
        F.col("pack_n_seqs").alias("bpe_pack_n_seqs"),
    )


@register(
    "text_terms",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    {_bpe_ctes()},
    {_BPE_DOC_SQL},
    tok AS (SELECT doc_id, unnest(w) AS token FROM words),
    counts AS (
        SELECT doc_id, token, COUNT(*) AS tf_n FROM tok
        WHERE length(token) >= 3 GROUP BY 1, 2),
    doc_len AS (SELECT doc_id, SUM(tf_n) AS len_n FROM counts GROUP BY 1),
    dfreq AS (SELECT token, COUNT(*) AS df FROM counts GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT c.doc_id, c.token,
               ROUND((c.tf_n / CAST(l.len_n AS DOUBLE))
                     * (ln((n.n_docs + 1) / CAST(d.df + 1 AS DOUBLE)) + 1),
                     6) AS tfidf
        FROM counts c JOIN doc_len l USING (doc_id)
        JOIN dfreq d USING (token) CROSS JOIN n),
    dtok AS (SELECT doc_id, unnest(list_distinct(w)) AS token FROM words),
    {_QUAL_CTE}
    SELECT 'tfidf_top' AS scope, doc_id, token AS term, tfidf AS score
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
        FROM scored) WHERE rn = 1
    UNION ALL
    SELECT 'corpus_top', CAST(NULL AS BIGINT), token, CAST(df AS DOUBLE)
    FROM (
        SELECT token, COUNT(*) AS df FROM dtok
        WHERE length(token) >= 3
        GROUP BY token ORDER BY df DESC, token LIMIT 20)
    UNION ALL
    SELECT 'source_quality', CAST(NULL AS BIGINT), source,
           SUM(CAST(ROUND(quality * 1000000) AS BIGINT))
             / (COUNT(quality) * 1000000.0)
    FROM qual GROUP BY source
    UNION ALL
    SELECT 'perplexity', doc_id, CAST(NULL AS VARCHAR), perplexity
    FROM ({_PPL_FROM_WORDS})
    UNION ALL
    {_bpe_merge_rows_sql()}
    UNION ALL
    SELECT 'bpe_len', doc_id, CAST(NULL AS VARCHAR),
           CAST(bpe_len AS DOUBLE)
    FROM bpe_doc
    """,
)
def text_terms(spark, sf_dir):
    """Corpus-level statistics as one tagged union: each document's
    most characteristic term by smoothed TF-IDF (deterministic
    lexicographic tie-break), the corpus top-20 terms by document
    frequency (per-doc distinct before the explode; deterministic
    k-th-place tie-break), the per-source mean-quality rollup
    (micro-integer-summed so the mean is engine-exact), and the
    corpus-trained bigram-LM perplexity per document
    (``text.lm_perplexity`` — the CCNet-style LM quality filter)."""
    docs = _docs(spark, sf_dir)
    tfidf = tx.tfidf_top_term(docs).select(
        F.lit("tfidf_top").alias("scope"),
        "doc_id",
        F.col("top_term").alias("term"),
        F.col("tfidf").alias("score"),
    )
    corpus = tx.top_terms(docs).select(
        F.lit("corpus_top").alias("scope"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("token").alias("term"),
        F.col("df").cast("double").alias("score"),
    )
    srcq = tx.source_quality(docs).select(
        F.lit("source_quality").alias("scope"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("source").alias("term"),
        F.col("avg_quality").alias("score"),
    )
    ppl = tx.lm_perplexity(docs).select(
        F.lit("perplexity").alias("scope"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.col("perplexity").alias("score"),
    )
    # Round 10: the corpus-trained BPE tokenizer — ranked merge table
    # (distributed pair counting, one driver row per round) and the
    # per-document token count it induces, both replayed bit-for-bit
    # by the oracle's unrolled training CTEs.
    merges, blen = _bpe_model(spark, docs)
    bmerge = merges.select(
        F.lit("bpe_merge").alias("scope"), "doc_id", "term", "score"
    )
    blen_rows = blen.hint("shuffle_hash").join(
        docs.select("doc_id"), "doc_id", "right"
    ).select(
        F.lit("bpe_len").alias("scope"),
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.coalesce(F.col("bpe_len"), F.lit(0)).cast("double").alias(
            "score"
        ),
    )
    return (
        tfidf.unionByName(corpus).unionByName(srcq).unionByName(ppl)
        .unionByName(bmerge).unionByName(blen_rows)
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

QUERY_VEC = hyperplanes(1, 64)[0]  # deterministic pseudo-random query vector
_Q_SQL = "[" + ", ".join(str(x) for x in QUERY_VEC) + "]::DOUBLE[]"
ANN_K = 20


@register(
    "ann_cosine_topk",
    f"""
    SELECT vec_id, cosine FROM (
        SELECT vec_id,
               ROUND(list_dot_product(embedding::DOUBLE[], {_Q_SQL})
                 / (sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))
                    * sqrt(list_dot_product({_Q_SQL}, {_Q_SQL}))), 6)
               AS cosine
        FROM embeddings)
    ORDER BY cosine DESC, vec_id LIMIT {ANN_K}
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k (the baseline scan: O(n·d), no
    shuffle until the k-row TakeOrdered)."""
    return cosine_topk(_emb(spark, sf_dir), QUERY_VEC, ANN_K)


def _lsh_ann_oracle() -> str:
    from sensapp_spark.pipeline.similarity import query_bucket

    planes = hyperplanes(4, 64)
    qb = query_bucket(QUERY_VEC, planes)
    probes = [qb] + [qb ^ (1 << i) for i in range(4)]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(str(c) for c in planes[i])}]::DOUBLE[]) > 0 "
        f"THEN {2**i} ELSE 0 END)"
        for i in range(4)
    )
    return f"""
    SELECT vec_id, bucket, cosine FROM (
        SELECT vec_id, {bucket} AS bucket,
               ROUND(list_dot_product(embedding::DOUBLE[], {_Q_SQL})
                 / (sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))
                    * sqrt(list_dot_product({_Q_SQL}, {_Q_SQL}))), 6)
               AS cosine
        FROM embeddings)
    WHERE bucket IN ({", ".join(str(p) for p in probes)})
    ORDER BY cosine DESC, vec_id LIMIT {ANN_K}
    """


@register("ann_lsh_topk", _lsh_ann_oracle())
def ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH ANN: exact cosine within the query's bucket (+
    Hamming-1 multiprobe) — each probe scans 1/2^b of the data."""
    return hyperplane_lsh_topk(_emb(spark, sf_dir), QUERY_VEC, ANN_K)


def _ivf_oracle() -> str:
    from sensapp_spark.pipeline.similarity import IVF_NLIST, IVF_NPROBE

    def cos(a: str, b: str) -> str:
        return (
            f"ROUND(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    e = "e.embedding::DOUBLE[]"
    return f"""
    WITH centroids AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < {IVF_NLIST}),
    probes AS (
        SELECT cid FROM centroids
        ORDER BY {cos("cvec", _Q_SQL)} DESC, cid LIMIT {IVF_NPROBE}),
    assigned AS (
        SELECT vec_id, cid AS centroid_id FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos(e, "c.cvec")} DESC, c.cid) AS rn
            FROM embeddings e CROSS JOIN centroids c)
        WHERE rn = 1)
    SELECT e.vec_id, a.centroid_id, {cos(e, _Q_SQL)} AS cosine
    FROM embeddings e JOIN assigned a USING (vec_id)
    WHERE a.centroid_id IN (SELECT cid FROM probes)
    ORDER BY cosine DESC, e.vec_id LIMIT {ANN_K}
    """


PQ_RERANK = 100


def _rerank_cos_sql() -> str:
    """THE exact-cosine re-rank expression every quantized-ANN oracle
    arm shares (pq/sq8/bq) — one definition, like the Spark side's
    ``similarity.exact_rerank``, so a rounding/ordering tweak cannot
    diverge between arms."""
    return (
        "ROUND(list_dot_product(e.embedding::DOUBLE[], {q})"
        " / (sqrt(list_dot_product(e.embedding::DOUBLE[],"
        " e.embedding::DOUBLE[])) * sqrt(list_dot_product({q}, {q}))), 6)"
    ).format(q=_Q_SQL)


def _pq_oracle_arm() -> str:
    """Full SQL replay of the PQ two-stage search (pipeline/pq.py): per
    subspace, the deterministic sub-codebook fit (init = first ksub
    subvectors, one Lloyd update, L2 argmin with round-6 distances and
    smallest-code ties), then ADC scoring from the codes alone, then
    exact-cosine re-rank of the ADC top candidates."""
    import math

    from sensapp_spark.pipeline.pq import PQ_KSUB, PQ_M

    dsub = 64 // PQ_M
    q = [float(x) for x in QUERY_VEC]
    normq = repr(math.sqrt(sum(x * x for x in q)))

    ctes = []
    for mi in range(PQ_M):
        lo, hi = mi * dsub + 1, (mi + 1) * dsub
        sub = f"embedding[{lo}:{hi}]::DOUBLE[]"
        # Left-associated squared-diff sum — the identical IEEE order
        # to the Spark fold (0.0 + t1 + t2 + …).
        d = " + ".join(
            f"(s.sv[{i}] - c.cvec[{i}]) * (s.sv[{i}] - c.cvec[{i}])"
            for i in range(1, dsub + 1)
        )
        argmin = f"""
        SELECT vec_id, cid AS code FROM (
            SELECT s.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY ROUND({d}, 6) ASC, c.cid) AS rn
            FROM sv{mi} s CROSS JOIN {{cents}} c)
        WHERE rn = 1"""
        mean_vec = "[" + ", ".join(
            f"ROUND(avg(sv[{i}]), 6)" for i in range(1, dsub + 1)
        ) + "]"
        ctes.append(f"""sv{mi} AS (
        SELECT vec_id, {sub} AS sv FROM embeddings),
    p{mi}0 AS (
        SELECT vec_id AS cid, {sub} AS cvec
        FROM embeddings WHERE vec_id < {PQ_KSUB}),
    a{mi}1 AS ({argmin.format(cents=f"p{mi}0")}),
    p{mi}1 AS (
        SELECT code AS cid, {mean_vec} AS cvec
        FROM sv{mi} JOIN a{mi}1 USING (vec_id) GROUP BY code),
    a{mi}2 AS ({argmin.format(cents=f"p{mi}1")})""")

    qsubs = [
        "[" + ", ".join(repr(x) for x in q[mi * dsub:(mi + 1) * dsub])
        + "]::DOUBLE[]"
        for mi in range(PQ_M)
    ]
    joins = " ".join(
        f"JOIN a{mi}2 ON a0.vec_id = a{mi}2.vec_id "
        f"JOIN p{mi}1 c{mi} ON a{mi}2.code = c{mi}.cid"
        for mi in range(1, PQ_M)
    )
    dots = " + ".join(
        f"list_dot_product({qsubs[mi]}, c{mi}.cvec)" for mi in range(PQ_M)
    )
    n2s = " + ".join(
        f"list_dot_product(c{mi}.cvec, c{mi}.cvec)" for mi in range(PQ_M)
    )
    cos = _rerank_cos_sql()
    return f"""
    WITH {",".join(ctes)},
    adc AS (
        SELECT a0.vec_id,
               ROUND(({dots}) / ({normq} * sqrt({n2s})), 6) AS score
        FROM a02 a0 JOIN p01 c0 ON a0.code = c0.cid {joins}
        ORDER BY score DESC, a0.vec_id LIMIT {PQ_RERANK})
    SELECT 'pq' AS scope, e.vec_id, NULL::BIGINT AS centroid_id,
           {cos} AS cosine
    FROM embeddings e JOIN adc USING (vec_id)
    ORDER BY cosine DESC, e.vec_id LIMIT {ANN_K}
    """


def _sq8_oracle_arm() -> str:
    """SQL replay of the SQ8 two-stage search (pipeline/sq.py): the
    per-dimension (min, max) fit, the floor(t + 0.5) uint8 encode, the
    dequantized approximate-cosine candidate pass, then exact-cosine
    re-rank — every float op in the same IEEE order as the Spark
    fold."""
    import math

    from sensapp_spark.pipeline.sq import SQ_LEVELS, SQ_RERANK

    q = [float(x) for x in QUERY_VEC]
    normq = repr(math.sqrt(sum(x * x for x in q)))
    los = ", ".join(
        f"min(embedding[{i + 1}]::DOUBLE) AS lo{i}, "
        f"max(embedding[{i + 1}]::DOUBLE) AS hi{i}"
        for i in range(64)
    )
    scs = ", ".join(
        f"CASE WHEN hi{i} = lo{i} THEN 1.0 ELSE hi{i} - lo{i} END"
        f" AS sc{i}"
        for i in range(64)
    )
    lv = f"{float(SQ_LEVELS)!r}"
    xh = ", ".join(
        f"(least({lv}, greatest(0.0, floor("
        f"(e.embedding[{i + 1}]::DOUBLE - s.lo{i}) / s.sc{i} * {lv}"
        f" + 0.5))) * (s.sc{i} / {lv})) + s.lo{i}"
        for i in range(64)
    )
    cos = _rerank_cos_sql()
    return f"""
    WITH sqstat0 AS (SELECT {los} FROM embeddings),
    sqstat AS (SELECT *, {scs} FROM sqstat0),
    sqx AS (
        SELECT e.vec_id, [{xh}]::DOUBLE[] AS xh
        FROM embeddings e CROSS JOIN sqstat s),
    sqscore AS (
        SELECT vec_id,
               ROUND(list_dot_product(xh, {_Q_SQL})
                 / ({normq} * sqrt(list_dot_product(xh, xh))), 6)
               AS score
        FROM sqx),
    sqcand AS (
        SELECT vec_id FROM sqscore
        ORDER BY score DESC, vec_id LIMIT {SQ_RERANK})
    SELECT 'sq8' AS scope, e.vec_id, NULL::BIGINT AS centroid_id,
           {cos} AS cosine
    FROM embeddings e JOIN sqcand USING (vec_id)
    ORDER BY cosine DESC, e.vec_id LIMIT {ANN_K}
    """


def _bq_oracle_arm() -> str:
    """SQL replay of the binary-quantization search (pipeline/sq.py):
    packed sign signature (one BIGINT), integer-exact Hamming
    prefilter via bit_count(xor(...)), exact-cosine re-rank. The
    candidate choice has no float in it at all."""
    from sensapp_spark.pipeline.sq import (
        BQ_RERANK,
        bq_signature_py,
    )

    long_min = "(-9223372036854775807 - 1)"

    def wlit(i: int) -> str:
        return long_min if i == 63 else str(1 << i)

    sig = " + ".join(
        f"CASE WHEN embedding[{i + 1}]::DOUBLE > 0"
        f" THEN {wlit(i)} ELSE 0 END"
        for i in range(64)
    )
    qsig = bq_signature_py([float(x) for x in QUERY_VEC])
    qsig_sql = long_min if qsig == -(1 << 63) else str(qsig)
    cos = _rerank_cos_sql()
    return f"""
    WITH bsig AS (
        SELECT vec_id, ({sig})::BIGINT AS sig FROM embeddings),
    bdist AS (
        SELECT vec_id,
               bit_count(xor(sig, ({qsig_sql})::BIGINT)) AS dist
        FROM bsig),
    bcand AS (
        SELECT vec_id FROM bdist
        ORDER BY dist ASC, vec_id LIMIT {BQ_RERANK})
    SELECT 'bq' AS scope, e.vec_id, NULL::BIGINT AS centroid_id,
           {cos} AS cosine
    FROM embeddings e JOIN bcand USING (vec_id)
    ORDER BY cosine DESC, e.vec_id LIMIT {ANN_K}
    """


@register(
    "ann_ivf_topk",
    f"(SELECT 'ivf' AS scope, * FROM ({_ivf_oracle()}))"
    f" UNION ALL ({_pq_oracle_arm()})"
    f" UNION ALL ({_sq8_oracle_arm()})"
    f" UNION ALL ({_bq_oracle_arm()})",
)
def ann_ivf_topk(spark, sf_dir):
    """Quantized-ANN family, tagged union:

    * ``ivf``: deterministic codebook (first nlist vectors),
      shuffle-free nearest-centroid assignment, exact cosine over the
      nprobe probed lists only. The oracle recomputes assignment with a
      windowed argmax — same codebook, same rounding, same tie rule.
    * ``pq``: product quantization (Jégou et al. 2011) two-stage
      search — ADC top-{PQ_RERANK} from the 64×-compressed codes, exact
      cosine re-rank to the top-k. The oracle replays the per-subspace
      codebook fit, the ADC scoring, and the re-rank in full.
    * ``sq8``: scalar quantization (round 9) — per-dim (min, max)
      affine uint8 codes (4× compression, no training), dequantized
      approximate cosine picks candidates, exact re-rank. Oracle
      replays fit + encode + both stages.
    * ``bq``: binary quantization (round 9) — one packed sign BIGINT
      per vector (32×), integer-exact Hamming prefilter
      (bit_count(xor)), exact re-rank.
    """
    from sensapp_spark.pipeline.pq import PQ_KSUB, pq_topk
    from sensapp_spark.pipeline.similarity import (
        ANN_DRIVER_TRAIN_ROWS,
        IVF_NLIST,
        ivf_centroids,
        ivf_topk,
        train_sample,
    )
    from sensapp_spark.pipeline.sq import (
        BQ_RERANK,
        SQ_RERANK,
        bq_topk,
        sq_topk,
    )

    emb = _emb(spark, sf_dir)
    # ONE bounded sample collect feeds every training (IVF centroids,
    # PQ codebooks, SQ stats) on the driver. SQ stats are an exact
    # corpus min/max, so they use the rows only while the sample IS
    # the corpus; above the cap sq_stats runs its one aggregate.
    train = train_sample(emb, seeds=max(IVF_NLIST, PQ_KSUB))
    ivf = ivf_topk(
        emb, QUERY_VEC, ANN_K, codebook=ivf_centroids(emb, train=train)
    ).select(
        F.lit("ivf").alias("scope"),
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        "cosine",
    )
    pq = pq_topk(
        emb, QUERY_VEC, k=ANN_K, rerank=PQ_RERANK, train=train
    ).select(
        F.lit("pq").alias("scope"),
        "vec_id",
        F.lit(None).cast("long").alias("centroid_id"),
        F.col("score").alias("cosine"),
    )

    def _qarm(tag, fn, rerank, **kw):
        return fn(emb, QUERY_VEC, k=ANN_K, rerank=rerank, **kw).select(
            F.lit(tag).alias("scope"),
            "vec_id",
            F.lit(None).cast("long").alias("centroid_id"),
            F.col("score").alias("cosine"),
        )

    sq = _qarm(
        "sq8", sq_topk, SQ_RERANK,
        train=train if len(train) < ANN_DRIVER_TRAIN_ROWS else None,
    )
    bq = _qarm("bq", bq_topk, BQ_RERANK)
    return ivf.unionByName(pq).unionByName(sq).unionByName(bq)



def _kmeans_ctes() -> str:
    """The two-round spherical-kmeans replay as a CTE chain ending in
    ``a2(vec_id, cluster)`` — shared by the embedding_kmeans oracle and
    the semdedup arm of dedup_embedding_pairs, so the assignment the
    dedup is judged against can never drift from the clustering's."""
    from sensapp_spark.pipeline.clustering import KMEANS_K

    def cos(a: str, b: str) -> str:
        return (
            f"ROUND(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    e = "e.embedding::DOUBLE[]"
    # DuckDB lists are 1-indexed; Spark getItem is 0-indexed.
    mean_vec = "[" + ", ".join(
        f"ROUND(avg(embedding[{i + 1}]::DOUBLE), 6)" for i in range(64)
    ) + "]"
    assign = """
    SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cos} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN {cents} c)
    WHERE rn = 1
    """
    return f"""c0 AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
        FROM embeddings WHERE vec_id < {KMEANS_K}),
    a1 AS ({assign.format(cos=cos(e, "c.cvec"), cents="c0")}),
    c1 AS (
        SELECT cluster AS cid, {mean_vec} AS cvec
        FROM embeddings JOIN a1 USING (vec_id) GROUP BY cluster),
    a2 AS ({assign.format(cos=cos(e, "c.cvec"), cents="c1")})"""


def _emb_neardup_oracle() -> str:
    planes = hyperplanes(4, 64)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(str(c) for c in planes[i])}]::DOUBLE[]) > 0 "
        f"THEN {2**i} ELSE 0 END)"
        for i in range(4)
    )
    from sensapp_spark.pipeline.similarity import DEFAULT_MAX_EMB_BUCKET

    cos = (
        "ROUND(list_dot_product(a.emb, b.emb)"
        " / (sqrt(list_dot_product(a.emb, a.emb))"
        " * sqrt(list_dot_product(b.emb, b.emb))), 6)"
    )
    from sensapp_spark.pipeline.clustering import (
        DEFAULT_MAX_SEMDEDUP_CLUSTER,
    )

    sem_cos = (
        "ROUND(list_dot_product(a.emb, b.emb)"
        " / (sqrt(list_dot_product(a.emb, a.emb))"
        " * sqrt(list_dot_product(b.emb, b.emb))), 6)"
    )
    return f"""
    WITH bucketed AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb, {bucket} AS bucket
        FROM embeddings),
    -- max_bucket star-edge guard, mirrored from
    -- pipeline/similarity.embedding_neardup_pairs: oversized buckets
    -- emit hub→member pairs (real cosine) instead of cliques.
    bs AS (
        SELECT bucketed.*,
               COUNT(*) OVER (PARTITION BY bucket) AS sz,
               MIN(vec_id) OVER (PARTITION BY bucket) AS hub
        FROM bucketed)
    SELECT 'lsh' AS scope, a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cos} AS cosine
    FROM bs a JOIN bs b USING (bucket)
    WHERE a.sz <= {DEFAULT_MAX_EMB_BUCKET}
      AND a.vec_id < b.vec_id AND {cos} >= 0.3
    UNION ALL
    -- Star pairs are connectivity edges: real cosine, NOT
    -- threshold-filtered (matches embedding_neardup_pairs).
    SELECT 'lsh', a.vec_id, b.vec_id, {cos} AS cosine
    FROM bs a JOIN bs b USING (bucket)
    WHERE a.sz > {DEFAULT_MAX_EMB_BUCKET}
      AND a.vec_id = a.hub AND b.vec_id <> b.hub
    UNION ALL
    -- SemDeDup replay: the kmeans a2 assignment (identical CTEs to the
    -- embedding_kmeans oracle), within-cluster pairs at the semantic
    -- threshold, min-id keeper per dropped vector (arg_min carries the
    -- keeper's own cosine).
    SELECT 'semdedup', vec_a, vec_b, cosine FROM (
        SELECT b_id AS vec_b,
               arg_min(a_id, a_id) AS vec_a,
               arg_min(cosine, a_id) AS cosine
        FROM (
            WITH {_kmeans_ctes()},
            av AS (
                SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, a2.cluster
                FROM embeddings e JOIN a2 USING (vec_id)),
            cs AS (
                SELECT av.*,
                       COUNT(*) OVER (PARTITION BY cluster) AS sz,
                       MIN(vec_id) OVER (PARTITION BY cluster) AS hub
                FROM av)
            SELECT a.vec_id AS a_id, b.vec_id AS b_id, {sem_cos} AS cosine
            FROM cs a JOIN cs b USING (cluster)
            WHERE a.vec_id < b.vec_id
              AND (a.sz <= {DEFAULT_MAX_SEMDEDUP_CLUSTER}
                   OR a.vec_id = a.hub)
              AND {sem_cos} >= 0.35)
        GROUP BY b_id)
    """


@register("dedup_embedding_pairs", _emb_neardup_oracle())
def dedup_embedding_pairs(spark, sf_dir):
    """Embedding near-duplicate family, tagged union:

    * ``lsh``: exact cosine within hyperplane-LSH buckets (equality
      join on bucket id — no cross join).
    * ``semdedup``: SemDeDup (Abbas et al. 2023) — k-means clusters
      (the oracle-verified embedding_kmeans assignment), within-cluster
      pairwise cosine, one min-id keeper per dropped vector. The
      cluster id bounds the quadratic step; ``k`` is the 100 TB lever.
    """
    from sensapp_spark.pipeline.clustering import semdedup_pairs

    emb = _emb(spark, sf_dir)
    lsh = embedding_neardup_pairs(emb, threshold=0.3).select(
        F.lit("lsh").alias("scope"), "vec_a", "vec_b", "cosine"
    )
    sem = semdedup_pairs(emb, threshold=0.35).select(
        F.lit("semdedup").alias("scope"), "vec_a", "vec_b", "cosine"
    )
    return lsh.unionByName(sem)

# ---------------------------------------------------------------------------
# Clustering
# ---------------------------------------------------------------------------


def _kmeans_oracle() -> str:
    return f"""
    WITH {_kmeans_ctes()}
    SELECT vec_id, cluster FROM a2
    """


@register("embedding_kmeans", _kmeans_oracle())
def embedding_kmeans(spark, sf_dir):
    """Spherical k-means (2 Lloyd rounds, deterministic init): cluster
    assignment over the embedding corpus. The codebook is fit on the
    driver over one bounded training collect; the assignment is a
    shuffle-free codegen projection. The oracle replays both rounds
    with windowed argmax CTEs."""
    from sensapp_spark.pipeline.clustering import kmeans_assign

    return kmeans_assign(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Text: lexical diversity + PII triage
# ---------------------------------------------------------------------------



# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "multimodal_features",
    f"""
    WITH dims AS (
        SELECT doc_id, text,
               64 + ('0x' || substring(md5(text), 1, 2))::INT % 192 AS w,
               ('0x' || substring(md5(text), 7, 2))::INT AS r,
               ('0x' || substring(md5(text), 9, 2))::INT AS g,
               ('0x' || substring(md5(text), 11, 2))::INT AS b,
               ('0x' || substring(md5(text), 13, 2))::INT % 4 = 0 AS is_gif,
               64 + ('0x' || substring(md5(text), 1, 2))::INT % 62 AS gw,
               ('0x' || substring(md5(text), 7, 2))::INT % 128 AS gp
        FROM documents),
    adler AS (
        -- closed-form adler32 of the scanline [00, (r g b ff) * w]:
        -- length m = 1+4w, S0 = w(r+g+b+255), S1 = sum j*byte_j.
        SELECT *,
               1 + 4 * w::BIGINT AS m,
               w::BIGINT * (r + g + b + 255) AS s0,
               w::BIGINT * (2*r + 3*g + 4*b + 5*255)
                 + 2 * w::BIGINT * (w - 1) * (r + g + b + 255) AS s1
        FROM dims),
    png AS (
        SELECT doc_id, w, r, g, b, is_gif, gw, gp,
               CASE WHEN is_gif THEN
               unhex('474946383961')
               || unhex(lpad(to_hex(gw), 2, '0') || '00')
               || unhex('0100F60000')
               || unhex('{mm.GIF_PALETTE_HEX}')
               || unhex('2C00000000')
               || unhex(lpad(to_hex(gw), 2, '0') || '00')
               || unhex('010000')
               || unhex('07')
               || unhex(lpad(to_hex(gw + 2), 2, '0'))
               || unhex('80')
               || unhex(repeat(lpad(to_hex(gp), 2, '0'), gw))
               || unhex('81')
               || unhex('003B')
               ELSE
               unhex('89504E470D0A1A0A0000000D49484452')
               || unhex(lpad(to_hex(w), 8, '0'))
               || unhex('00000001')
               || unhex('080600000000000000')
               || unhex(lpad(to_hex(m + 11), 8, '0'))
               || unhex('49444154')
               || unhex('780101')
               || unhex(lpad(to_hex(m % 256), 2, '0')
                        || lpad(to_hex(m // 256), 2, '0'))
               || unhex(lpad(to_hex((65535 - m) % 256), 2, '0')
                        || lpad(to_hex((65535 - m) // 256), 2, '0'))
               || unhex('00' || repeat(lpad(to_hex(r), 2, '0')
                                       || lpad(to_hex(g), 2, '0')
                                       || lpad(to_hex(b), 2, '0')
                                       || 'FF', w))
               || unhex(lpad(to_hex(
                      ((m + (m + 1) * s0 - s1) % 65521) * 65536
                      + (1 + s0) % 65521), 8, '0'))
               || unhex('00000000')
               || unhex(lpad(to_hex(octet_length(encode(text)) + 4), 8, '0'))
               || unhex('74455874') || encode('doc') || unhex('00')
               || encode(text)
               || unhex('00000000')
               || unhex('0000000049454E44AE426082')
               END AS payload
        FROM adler)
    SELECT doc_id AS media_id,
           octet_length(payload) AS byte_len,
           substring(sha256(hex(payload)), 1, 16) AS sha_prefix,
           CASE WHEN is_gif THEN 'gif' ELSE 'png' END AS format,
           CASE WHEN is_gif THEN gw ELSE w END AS width,
           1 AS height,
           CASE WHEN is_gif THEN gp ELSE r END::DOUBLE AS mean_r,
           CASE WHEN is_gif THEN 255 - gp ELSE g END::DOUBLE AS mean_g,
           CASE WHEN is_gif THEN (2 * gp) % 256 ELSE b END::DOUBLE AS mean_b
    FROM png
    """,
)
def multimodal_features(spark, sf_dir):
    """Binary-column feature extraction via Arrow-batched mapInPandas
    over the REAL decoders (pipeline/multimodal.py): payloads are
    DECODABLE PNGs (genuine zlib IDAT, closed-form adler32) and GIFs
    (byte-aligned 8-bit literal LZW, 128-entry palette) synthesized
    with JVM expressions; the Spark side zlib-inflates + unfilters the
    PNG rows and LZW-decompresses + palette-maps the GIF frames to
    produce mean_r/g/b, and the oracle rebuilds the identical bytes
    with SQL blob concat and predicts the means in closed form — BOTH
    pixel decode paths are driver-verified end-to-end."""
    media = mm.attach_binary(_docs(spark, sf_dir))
    feats = mm.extract_features(media)
    return feats.select(
        "media_id", "byte_len", "sha_prefix", "format", "width", "height",
        "mean_r", "mean_g", "mean_b",
    )


@register(
    "multimodal_frames",
    f"""
    SELECT 'frame' AS scope,
           doc_id AS media_id,
           frame_idx AS idx,
           (frame_idx * 1000) // 24 AS pos,
           CAST(NULL AS BIGINT) AS n_tokens,
           CAST(NULL AS VARCHAR) AS fp
    FROM (
        SELECT doc_id,
               unnest(generate_series(0, n_frames - 1, 10)) AS frame_idx
        FROM (
            SELECT doc_id,
                   1 + ('0x' || substring(md5(text), 5, 2))::INT % 240
                       AS n_frames
            FROM documents))
    UNION ALL
    SELECT 'chunk', doc_id, token_start // {_CHUNK_STEP}, token_start,
           len(chunk), md5(array_to_string(chunk, ' '))
    FROM ({_CHUNKS_SQL})
    """,
)
def multimodal_frames(spark, sf_dir):
    """Content segmentation plans as one tagged union — the sampling
    step long inputs go through before per-segment decode/tokenize:

    * ``frame``: metadata-driven video frame sampling (every 10th frame
      index with its integer-ms presentation timestamp) — a bounded JVM
      sequence explode, frames co-partitioned with their source media
      (the per-frame pixel decode would attach ``decode_pixels`` in
      production).
    * ``chunk``: token-window document chunking, 64-token windows with
      16-token overlap (``text.chunk_plan``) — one posexplode, chunks
      co-partitioned with their document, md5 content fingerprint per
      chunk for downstream chunk-level dedup.
    """
    media = mm.attach_video_meta(_docs(spark, sf_dir), fps=24)
    frames = mm.frame_sample_plan(media, every_n=10).select(
        F.lit("frame").alias("scope"),
        "media_id",
        F.col("frame_idx").cast("long").alias("idx"),
        F.col("frame_ts_ms").cast("long").alias("pos"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("string").alias("fp"),
    )
    chunks = tx.chunk_plan(
        _docs(spark, sf_dir), chunk_tokens=64, overlap=16
    ).select(
        F.lit("chunk").alias("scope"),
        F.col("doc_id").alias("media_id"),
        F.col("chunk_idx").cast("long").alias("idx"),
        F.col("token_start").alias("pos"),
        "n_tokens",
        F.col("chunk_fp").alias("fp"),
    )
    return frames.unionByName(chunks)


# ---------------------------------------------------------------------------
# Per-member bench decomposition (BENCH_r* evidence, not a query surface)
# ---------------------------------------------------------------------------

def _scoped(entry: str, tag: str):
    def fn(spark, sf_dir):
        return PIPELINE_QUERIES[entry](spark, sf_dir).filter(
            F.col("scope") == tag
        )

    return fn


def _scoped_main(entry: str, tag: str, col: str = "scope"):
    """Like _scoped but for entries registered in the MAIN registry
    (plans.queries); imported late to avoid the circular module load.
    ``col`` names the entry's tag column (most families use ``scope``,
    promql_ext_range_funcs uses ``func``)."""

    def fn(spark, sf_dir):
        from sensapp_spark.plans.queries import QUERIES

        return QUERIES[entry](spark, sf_dir).filter(F.col(col) == tag)

    return fn


def _split_member(spark, sf_dir):
    from sensapp_spark.pipeline.sampling import split_assign

    return split_assign(_docs(spark, sf_dir)).select("doc_id", "split")


def _mix_member(spark, sf_dir):
    from sensapp_spark.pipeline.sampling import temperature_mix

    return temperature_mix(_docs(spark, sf_dir), _MIX_WEIGHTS, _MIX_T)


def _strat_member(spark, sf_dir):
    from sensapp_spark.pipeline.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), _SAMPLE_RATES, default_pct=_SAMPLE_DEFAULT
    )


def _verdict_member(spark, sf_dir):
    from sensapp_spark.pipeline.assemble import corpus_verdict

    docs = _docs(spark, sf_dir)
    return corpus_verdict(docs, docs.filter(F.col("doc_id") % 97 == 0))


def _signals_base_member(spark, sf_dir):
    raw = tx.spread_if_needed(_docs(spark, sf_dir))
    return tx.with_pii_flag(
        raw.select(
            "doc_id", *tx.lang_id_cols(), *tx.fingerprint_cols(),
            *tx.pii_count_cols(),
        )
    )


def _decontam_member(spark, sf_dir):
    raw = _docs(spark, sf_dir)
    return dd.benchmark_collision_hits(
        raw, raw.filter(F.col("doc_id") % 97 == 0), n=3
    )


# Which registry entries are FAMILY UNIONS, and how to time each member
# alone. Tagged unions re-run the entry filtered to one scope literal —
# Catalyst folds the other branches' `lit(tag) = x` predicates to false
# and prunes them to empty relations, so the member's plan executes in
# isolation. Composed-join families (sample_split, text_signals)
# re-derive each member from its underlying operator. Fused single-scan
# entries (text_profile, multimodal_features) are deliberately absent:
# their members share one scan by construction, so per-member walls
# would double-count the shared cost rather than decompose it.
BENCH_MEMBERS: dict[str, dict] = {
    "dedup_exact_docs": {
        t: _scoped("dedup_exact_docs", t) for t in ("doc", "chunk")
    },
    "dedup_simhash": {t: _scoped("dedup_simhash", t) for t in ("sig", "pair")},
    "dedup_jaccard_pairs": {
        t: _scoped("dedup_jaccard_pairs", t)
        for t in ("inverted", "prefix", "winnow")
    },
    "dedup_embedding_pairs": {
        t: _scoped("dedup_embedding_pairs", t) for t in ("lsh", "semdedup")
    },
    "ann_ivf_topk": {
        t: _scoped("ann_ivf_topk", t)
        for t in ("ivf", "pq", "sq8", "bq")
    },
    "text_terms": {
        t: _scoped("text_terms", t)
        for t in ("tfidf_top", "corpus_top", "source_quality",
                  "perplexity", "bpe_merge", "bpe_len")
    },
    "multimodal_frames": {
        t: _scoped("multimodal_frames", t) for t in ("frame", "chunk")
    },
    "downsample_m4": {
        t: _scoped_main("downsample_m4", t) for t in ("m4", "lttb")
    },
    "downsample_rate_1h": {
        t: _scoped_main("downsample_rate_1h", t, col="kind")
        for t in ("downsample", "rate", "continuous", "served",
                  "served_rate")
    },
    "promql_ext_binary_ratio": {
        t: _scoped_main("promql_ext_binary_ratio", t)
        for t in ("ratio", "group_left", "group_right", "scalar_div",
                  "nested_gt", "global_ratio", "pct")
    },
    "value_histogram": {
        t: _scoped_main("value_histogram", t)
        for t in ("hist", "quantile", "prom_le", "prom_frac")
    },
    "promql_ext_range_funcs": {
        t: _scoped_main("promql_ext_range_funcs", t, col="func")
        for t in ("irate", "changes", "deriv", "predict_linear",
                  "timestamp", "subquery")
    },
    "promql_ext_range_query": {
        t: _scoped_main("promql_ext_range_query", t)
        for t in ("rate", "subquery", "hist")
    },
    "promql_ext_topk": {
        t: _scoped_main("promql_ext_topk", t, col="op")
        for t in ("plain", "nested_topk_by", "nested_sum_topk",
                  "nested_max_by")
    },
    "catalog_metrics_rollup": {
        t: _scoped_main("catalog_metrics_rollup", t, col="op")
        for t in ("rollup_series", "rollup_rows", "kmv_series",
                  "cms_rows")
    },
    "sample_split": {
        "split_assign": _split_member,
        "stratified_sample": _strat_member,
        "corpus_verdict": _verdict_member,
        "temperature_mix": _mix_member,
        "bpe_pack": lambda spark, sf_dir: _bpe_pack(
            spark, _docs(spark, sf_dir)
        ),
    },
    "text_signals": {
        "signals": _signals_base_member,
        "decontam": _decontam_member,
    },
}
