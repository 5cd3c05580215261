"""Corpus-curation queries [extension]: deterministic sampling, per-source
corpus health, Gopher-style quality gating, multi-distinct profiling.

These are the operators a training-data pipeline runs between ingestion
and dedup: decide the language/source mix (stratified sampling), audit
each source (stats), gate on document quality (rule filter), and profile
cardinalities.  All decisions are pure per-row arithmetic or standard
aggregates — no RNG state, no Python — so every query here is
DuckDB-oracle-checked exactly, sampling included (see
``operators/sampling.py`` for why the hash is engine-portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.functions import text as T
from advanced_etl_pipelines_spark.operators import sampling as SA
from advanced_etl_pipelines_spark.plans import oracle_replays
from advanced_etl_pipelines_spark.plans.registry import query, r4, sql_query
from advanced_etl_pipelines_spark.sources.readers import read_sf_table
from advanced_etl_pipelines_spark.operators.caching import (
    tracked_persist,
)

# DuckDB twin of operators/sampling.py::unit_hash
_UNIT_HASH_SQL = (
    "(((doc_id % 2147483648) * 2654435761) % 4294967296) / 4294967296.0"
)

_TOKENS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)


sql_query(
    "corpus_source_stats",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(1e-9 + AVG(n_chars), 4) AS avg_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS dup_docs
    FROM documents
    GROUP BY source
    """,
    "Per-source corpus audit: volume, average size, language spread, and "
    "exact-duplicate pressure.",
)


@query(
    "sample_stratified_hash",
    f"""
    WITH kept AS (
      SELECT lang FROM documents
      WHERE {_UNIT_HASH_SQL} <
            CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END)
    SELECT d.lang, COUNT(*) AS total_docs,
           (SELECT COUNT(*) FROM kept k WHERE k.lang = d.lang) AS kept_docs
    FROM documents d GROUP BY d.lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: deterministically downsample the dominant
    language (en → 10%) while keeping half of everything else.  The keep
    decision is per-row arithmetic on doc_id — zero shuffle, rerun-stable,
    engine-portable (hence oracle-checkable despite being 'random')."""
    docs = read_sf_table(spark, sf_dir, "documents")
    kept = SA.stratified_sample(
        docs, "lang", {"en": 0.1}, default_rate=0.5, key="doc_id"
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("total_docs"))
    kept_counts = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("kept_docs"))
    return (
        totals.join(kept_counts, "lang", "left_outer")
        .select(
            "lang",
            "total_docs",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
        )
    )


sql_query(
    "sample_per_lang_topk",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {_UNIT_HASH_SQL} ASC, doc_id ASC)
               AS sample_rank
      FROM documents)
    SELECT doc_id, lang, sample_rank FROM ranked WHERE sample_rank <= 5
    """,
    "Fixed-size per-group sample (5 docs per language) — the eval-set / "
    "spot-check draw.",
)


@query(
    "corpus_quality_filter",
    f"""
    WITH tk AS (
      SELECT lang, {_TOKENS_SQL} AS toks FROM documents),
    scored AS (
      SELECT lang, LEN(toks) AS n_words,
             list_sum(list_transform(toks, t -> LENGTH(t))) * 1.0
               / GREATEST(LEN(toks), 1) AS mwl,
             LEN(list_distinct(toks)) * 1.0 / GREATEST(LEN(toks), 1) AS uniq
      FROM tk)
    SELECT lang,
           CASE WHEN n_words < 25 OR n_words > 90 THEN 'bad_length'
                WHEN uniq < 0.4 THEN 'low_diversity'
                WHEN mwl < 4.0 OR mwl > 5.0 THEN 'word_shape'
                ELSE 'pass' END AS verdict,
           COUNT(*) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule gate (Rae et al. 2021 §A1.1, simplified to the
    signals computable from this corpus): document length band, lexical
    diversity floor, mean-word-length band.  First failing rule wins, so
    the output doubles as a rejection-reason report.  All higher-order
    functions on a bind-once token array — one pass, no Python, no
    shuffle before the final tiny aggregate."""
    docs = read_sf_table(spark, sf_dir, "documents")
    toks = T.bind_once(
        T.word_tokens("text"),
        lambda t: F.struct(
            F.size(t).alias("n"),
            (
                F.aggregate(
                    t, F.lit(0), lambda acc, x: acc + F.length(x)
                ).cast("double")
                / F.greatest(F.size(t), F.lit(1))
            ).alias("mwl"),
            (
                F.size(F.array_distinct(t)).cast("double")
                / F.greatest(F.size(t), F.lit(1))
            ).alias("uniq"),
        ),
    )
    scored = docs.select("lang", toks.alias("s"))
    verdict = (
        F.when(
            (F.col("s.n") < 25) | (F.col("s.n") > 90), F.lit("bad_length")
        )
        .when(F.col("s.uniq") < 0.4, F.lit("low_diversity"))
        .when(
            (F.col("s.mwl") < 4.0) | (F.col("s.mwl") > 5.0),
            F.lit("word_shape"),
        )
        .otherwise(F.lit("pass"))
    )
    return (
        scored.select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


sql_query(
    "multi_count_distinct",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
    FROM events GROUP BY event_type
    """,
    "Cardinality profile with two COUNT(DISTINCT) in one statement — Spark "
    "plans this as an Expand (row replicated per distinct clause) feeding "
    "one aggregation, not N scans.",
)


sql_query(
    "approx_distinct_events",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS exact_days,
           TRUE AS within_6pct
    FROM events GROUP BY event_type
    """,
    "HyperLogLog++ distinct counts per event_type — the scale path for "
    "multi_count_distinct: constant memory per group, no Expand, sketches "
    "merge associatively across 1000 executors.",
)


@query(
    "vocab_top_terms",
    f"""
    WITH tk AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    term AS (SELECT UNNEST(toks) AS term, doc_id FROM tk)
    SELECT term, COUNT(*) AS tf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM term GROUP BY term
    ORDER BY tf DESC, term ASC LIMIT 30
    """,
)
def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary extraction: corpus-wide term and document frequencies,
    top 30.  Explode → two-level hash aggregate; partial (map-side)
    aggregation collapses each partition's token stream before the
    single shuffle on the term, so the exchange carries the vocabulary,
    not the corpus — the property that keeps this viable at 100 TB."""
    from advanced_etl_pipelines_spark.functions.text import word_tokens

    docs = read_sf_table(spark, sf_dir, "documents")
    term = docs.select(
        "doc_id", F.explode(word_tokens("text")).alias("term")
    )
    return (
        term.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(30)
    )


@query(
    "split_train_holdout",
    f"""
    WITH tagged AS (
      SELECT doc_id, lang,
             TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
             CASE WHEN {_UNIT_HASH_SQL} < 0.8 THEN 'train'
                  WHEN {_UNIT_HASH_SQL} < 0.9 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents),
    tn AS (SELECT DISTINCT norm FROM tagged WHERE split = 'train')
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN split <> 'train' AND tn.norm IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
    FROM tagged LEFT JOIN tn USING (norm)
    GROUP BY lang, split
    """,
)
def q_split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (80/10/10 on the portable
    doc_id hash — rerun-stable, engine-portable, and any downstream
    system can recompute membership from the id alone) plus the leakage
    audit every eval split needs: how many valid/test docs share their
    normalized text with some training doc.  Non-zero ``n_leaked`` is
    the classic split-before-dedup bug — hash splits assign exact
    duplicates independently, so dedup must run FIRST (or the split key
    must be the content digest, not the doc id).

    Scale shape: the split tag is per-row arithmetic on the scan; the
    leakage check is one equi-join keyed on the normalized text.  At
    100 TB the join key should be the 64-bit content digest (xxhash64 —
    8-byte shuffle keys, same answer modulo astronomically-unlikely
    collisions); the string key here keeps the query exactly
    reproducible in the DuckDB oracle."""
    from advanced_etl_pipelines_spark.operators.dedup import normalize_text

    docs = read_sf_table(spark, sf_dir, "documents")
    u = SA.unit_hash("doc_id")
    split = (
        F.when(u < 0.8, F.lit("train"))
        .when(u < 0.9, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    tagged = docs.select(
        "doc_id",
        "lang",
        normalize_text("text").alias("norm"),
        split.alias("split"),
    )
    tn = (
        tagged.where(F.col("split") == "train")
        .select("norm")
        .distinct()
        .withColumn("in_train", F.lit(1))
    )
    leaked = (F.col("split") != "train") & F.col("in_train").isNotNull()
    return (
        tagged.join(tn, "norm", "left_outer")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(leaked, 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked"),
        )
    )


@query(
    "mixture_budget_fill",
    f"""
    WITH t AS (
      SELECT source, doc_id,
             LEN(regexp_extract_all(text, '\\S+')) AS ntok,
             {_UNIT_HASH_SQL} AS u
      FROM documents),
    r AS (
      SELECT source, ntok,
             COALESCE(SUM(ntok) OVER (PARTITION BY source ORDER BY u, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM t)
    SELECT source,
           COUNT(*) AS total_docs,
           CAST(SUM(CASE WHEN prior < 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_docs,
           CAST(SUM(CASE WHEN prior < 1000 THEN ntok ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM r GROUP BY source
    """,
)
def q_mixture_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture assembly: greedily fill a fixed per-source token
    budget (1000 whitespace tokens) in deterministic hash order — a doc
    is kept iff the tokens of all docs ordered before it (by portable
    hash, then id) have not yet exhausted the source's budget.  This is
    how a training run pins "N tokens from each source" reproducibly:
    membership is a pure function of (doc_id, corpus), not of partition
    layout or sampling state.

    Scale shape: the running token count uses the distributed prefix sum
    (`operators/scale.global_running_sums` — range-partition on the
    order key, per-partition subtotals, broadcast offsets) over the
    GLOBAL (source, hash, id) order, then subtracts each source's
    exclusive start offset (a tiny per-source frame, window over
    |sources| rows).  No per-source single-partition window: a 100 TB
    source's docs stay spread across the range partitions.  The DuckDB
    oracle states the same semantics with the naive per-source window."""
    from advanced_etl_pipelines_spark.operators.scale import (
        global_running_sums,
    )
    from pyspark.sql.window import Window

    budget = 1000
    docs = read_sf_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        T.token_count("text").cast("long").alias("ntok"),
        SA.unit_hash("doc_id").alias("u"),
    )
    g = global_running_sums(t, ["source", "u", "doc_id"], ["ntok"])
    tot = t.groupBy("source").agg(F.sum("ntok").alias("stot"))
    woff = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = tot.select(
        "source",
        F.coalesce(F.sum("stot").over(woff), F.lit(0)).alias("soff"),
    )
    prior = F.col("cum_ntok") - F.col("ntok") - F.col("soff")
    kept = prior < budget
    return (
        g.join(F.broadcast(off), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("bigint")
            .alias("kept_docs"),
            F.sum(F.when(kept, F.col("ntok")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )


@query(
    "bigram_pmi_top",
    f"""
    WITH tk AS (SELECT {_TOKENS_SQL} AS toks FROM documents),
    uni AS (SELECT UNNEST(toks) AS w FROM tk),
    u AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    n_uni AS (SELECT SUM(c) AS n FROM u),
    bg AS (SELECT UNNEST(list_transform(range(1, LEN(toks)),
                         i -> toks[i] || ' ' || toks[i+1])) AS b FROM tk),
    bc AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY b HAVING COUNT(*) >= 10),
    n_bg AS (SELECT SUM(cb) AS m FROM (SELECT UNNEST(list_transform(
               range(1, LEN(toks)), i -> toks[i] || ' ' || toks[i+1])) AS b
               FROM tk) t JOIN bc USING (b) JOIN bc x ON bc.b = x.b
               WHERE bc.b = t.b),
    total_bg AS (SELECT COUNT(*) AS m FROM bg)
    SELECT bc.b AS bigram, bc.cb AS cnt,
           ROUND(1e-9 + LN((bc.cb * 1.0 / total_bg.m) /
                 ((u1.c * 1.0 / n_uni.n) * (u2.c * 1.0 / n_uni.n))), 4)
             AS pmi
    FROM bc, total_bg, n_uni,
         u u1, u u2
    WHERE u1.w = SPLIT_PART(bc.b, ' ', 1)
      AND u2.w = SPLIT_PART(bc.b, ' ', 2)
    ORDER BY pmi DESC, bigram ASC LIMIT 20
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of bigrams seen
    >=10 times — ln(p(ab) / (p(a)p(b))).  Three aggregates (unigrams,
    bigrams, totals); the per-word probabilities join back onto the
    bigram list via two broadcast joins on the word keys.  Used to find
    multi-word expressions worth treating as single tokens."""
    from advanced_etl_pipelines_spark.functions.text import (
        bind_once,
        word_tokens,
    )

    docs = read_sf_table(spark, sf_dir, "documents")
    # tokenize once: the token-array frame feeds BOTH the unigram and
    # the bigram streams, and the unigram count table joins in twice
    # (w1/w2 sides) — persist both so neither recomputes per consumer
    toks = docs.select(word_tokens("text").alias("t")).transform(tracked_persist)
    uni = toks.select(F.explode("t").alias("w"))
    u = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c")).transform(tracked_persist)
    n_uni = u.agg(F.sum("c").alias("n"))

    bigrams = toks.select(
        F.explode(
            bind_once(
                F.col("t"),
                lambda t: F.transform(
                    F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                    lambda x, i: F.concat_ws(" ", x, F.element_at(t, i + 2)),
                ),
            )
        ).alias("b")
    )
    total_bg = bigrams.agg(F.count(F.lit(1)).alias("m"))
    bc = bigrams.groupBy("b").agg(F.count(F.lit(1)).alias("cb")).where(
        F.col("cb") >= 10
    )
    u1 = u.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = u.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    j = (
        bc.withColumn("w1", F.split_part(F.col("b"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("b"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(total_bg))
        .crossJoin(F.broadcast(n_uni))
    )
    pmi = F.log(
        (F.col("cb") / F.col("m"))
        / ((F.col("c1") / F.col("n")) * (F.col("c2") / F.col("n")))
    )
    return (
        j.select(
            F.col("b").alias("bigram"),
            F.col("cb").alias("cnt"),
            r4(pmi).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "decontaminate_benchmark",
    f"""
    WITH tk AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 3),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3] || ' ' || toks[i+4])) AS grams
          FROM tk WHERE len(toks) >= 5),
    bg AS (SELECT DISTINCT gram
           FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id % 101 = 0)),
    pg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    hit AS (SELECT DISTINCT doc_id FROM pg JOIN bg USING (gram))
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(h.doc_id) AS BIGINT) AS contaminated,
           CAST(COUNT(*) - COUNT(h.doc_id) AS BIGINT) AS clean
    FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
    GROUP BY d.source
    """,
)
def q_decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit (operators/decontamination.py):
    a synthetic eval set (every 101st doc — deterministic, so the oracle
    can rebuild it) contaminates any doc sharing a 5-gram with it.
    The benchmark gram set broadcasts; the corpus side never shuffles —
    at 100 TB the contamination check rides the scan.  Benchmark docs
    contaminate themselves, so `contaminated` >= the eval-set size."""
    from advanced_etl_pipelines_spark.operators import decontamination as DC

    docs = read_sf_table(spark, sf_dir, "documents")
    bench = docs.where((F.col("doc_id") % 101) == 0)
    hits = DC.contaminated_ids(docs, "text", "doc_id", bench, "text", n=5)
    flagged = docs.join(
        hits.withColumnRenamed("id", "doc_id").withColumn("hit", F.lit(1)),
        "doc_id",
        "left_outer",
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("hit").cast("bigint").alias("contaminated"),
        (F.count(F.lit(1)) - F.count("hit")).cast("bigint").alias("clean"),
    )


sql_query(
    "sample_weighted_topk",
    """
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             LN((((doc_id % 2147483648) * 2654435761) % 4294967296 + 0.5)
                / 4294967296.0) / n_chars AS p
      FROM documents),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY p DESC, doc_id ASC) AS rn
      FROM pri)
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE rn <= 20
    """,
    "Weighted sampling without replacement (Efraimidis–Spirakis A-Res), "
    "length-weighted: longer documents win proportionally more slots in the "
    "per-language sample of 20.",
)


@query(
    "bpe_vocab_learn",
    # Scale-portable replay (round-5): the merge sequence is
    # deterministic by construction (exact integer pair counts +
    # total-order tiebreak), so the oracle replays all 12 rounds as
    # unrolled DuckDB CTEs — value-checked at EVERY sf, not just the
    # sf0.01 the old pinned frame encoded.  See plans/oracle_replays.py.
    oracle_replays.bpe_learn_sql(12),
)
def q_bpe_vocab_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016) over
    the document corpus: 12 merge rounds on the (word, freq) table —
    the corpus collapses to word frequencies in ONE scan, then every
    round is a vocabulary-sized pair-count aggregate + a bounded driver
    argmax + a map-side fold (operators/bpe.py; no Python in the loop,
    per-round expressions built as one SQL string).  Output: the merge
    table in rank order with weighted pair counts — the artifact a
    tokenizer ships.  Deterministic by construction (exact integer
    counts, total-order (count DESC, pair ASC) tiebreak), hence
    oracle-checked by a full DuckDB replay at every sf; parity
    with a pure-Python Sennrich reference is pinned in
    tests/test_bpe.py."""
    from advanced_etl_pipelines_spark.operators.bpe import (
        bpe_learn,
        word_freq_table,
    )

    docs = read_sf_table(spark, sf_dir, "documents")
    words = word_freq_table(docs, "text")
    merges = bpe_learn(words, n_merges=12)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, "
        "weighted_count bigint",
    )


@query(
    "bpe_fertility_by_lang",
    # Scale-portable replay (round-5): learn + re-segment in DuckDB
    # CTEs — value-checked at every sf (see plans/oracle_replays.py)
    oracle_replays.bpe_fertility_sql(12),
)
def q_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report: learn 12 BPE merges on the corpus
    (operators/bpe.py), re-segment every document with them, and report
    per-language words, subword tokens, fertility (subwords/word) and
    compression vs raw characters+markers — the numbers a tokenizer
    evaluation tables (high fertility on a language = the vocabulary
    underserves it).  Training runs on the vocabulary-bounded
    (word, freq) table; for scoring, the corpus collapses to
    (lang, word) counts FIRST (map-side partial agg), the k fold
    expressions run only over the vocabulary (bpe_segment_vocab), and
    the join back is vocab-sized — the corpus never pays per-token
    fold cost.  Deterministic end to end -> full-replay DuckDB
    oracle, value-checked at every sf."""
    from advanced_etl_pipelines_spark.functions.text import word_tokens
    from advanced_etl_pipelines_spark.operators.bpe import (
        bpe_learn,
        bpe_segment_vocab,
        word_freq_table,
    )

    docs = read_sf_table(spark, sf_dir, "documents")
    # ONE corpus-scale tokenize pass (optimization round 10): the
    # (lang, word) count table is computed and persisted first, and the
    # trainer's (word, freq) table is DERIVED from it by summing over
    # lang — identical multiset to word_freq_table(docs) (both count
    # every token occurrence), so the learned merges are unchanged,
    # but the corpus is tokenized+exploded once instead of twice.  The
    # persisted frame is vocabulary x language bounded, not corpus
    # bounded.
    counts = (
        docs.select(
            "lang", F.explode(word_tokens("text")).alias("word")
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(tracked_persist)
    )
    wf = counts.groupBy("word").agg(F.sum("n").alias("freq"))
    merges = bpe_learn(wf, n_merges=12)
    vocab = bpe_segment_vocab(
        counts.select("word").distinct(), merges
    ).select("word", "n_subwords")
    return (
        counts.join(vocab, "word")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_subwords"))
            .cast("bigint")
            .alias("n_subwords"),
            r4(
                F.sum(F.col("n") * F.col("n_subwords")) / F.sum("n")
            ).alias("fertility"),
        )
    )


@query(
    "unigram_lm_fertility",
    # Scale-portable replay (round-5): lattice + Viterbi folds replayed
    # as DuckDB lambdas with identical scan and float-fold order —
    # value-checked at every sf (see plans/oracle_replays.py)
    oracle_replays.unigram_fertility_sql(),
)
def q_unigram_lm_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM (SentencePiece-family, Kudo 2018) tokenizer report:
    build the frequency-scored piece vocabulary, Viterbi-segment the
    corpus, and report per-language fertility plus mean negative
    log-likelihood per piece — the second tokenizer family beside
    bpe_fertility_by_lang, trained WITHOUT a driver loop (piece
    scoring is one aggregate; BPE needs a merge round-trip per rank).

    Scale shape (operators/unigram_lm.py): candidate explode and
    Viterbi DP are vocabulary-bounded; the corpus pays exactly two
    hash aggregates — (lang, word) counts and the final per-lang
    rollup — plus a vocab-sized join.  Deterministic end to end ->
    full-replay DuckDB oracle, value-checked at every sf."""
    from advanced_etl_pipelines_spark.functions.text import word_tokens
    from advanced_etl_pipelines_spark.operators.bpe import (
        word_freq_table,
    )
    from advanced_etl_pipelines_spark.operators.unigram_lm import (
        unigram_piece_table,
        unigram_viterbi_words,
    )

    docs = read_sf_table(spark, sf_dir, "documents")
    # ONE corpus-scale tokenize pass (same derivation as
    # bpe_fertility_by_lang): (lang, word) counts are persisted and the
    # (word, freq) trainer table is their per-word sum — identical
    # values, half the corpus passes; persisted frame is vocab x lang
    # bounded
    counts = (
        docs.select(
            "lang", F.explode(word_tokens("text")).alias("word")
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(tracked_persist)
    )
    wf = counts.groupBy("word").agg(F.sum("n").alias("freq"))
    pieces = unigram_piece_table(wf)
    seg = unigram_viterbi_words(wf, pieces)
    return (
        counts.join(seg, "word")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_pieces"))
            .cast("bigint")
            .alias("n_pieces"),
            r4(
                F.sum(F.col("n") * F.col("n_pieces")) / F.sum("n")
            ).alias("fertility"),
            r4(
                -F.sum(F.col("n") * F.col("logprob"))
                / F.sum(F.col("n") * F.col("n_pieces"))
            ).alias("nll_per_piece"),
        )
    )


@query(
    "unigram_em_refined",
    # Scale-portable replay (round-5): both EM rounds replayed in
    # DuckDB — the micro-unit posterior quantization makes the M-step
    # exact integer arithmetic in BOTH engines, so the refined model is
    # engine-independent and the oracle value-checks at every sf (see
    # plans/oracle_replays.py)
    oracle_replays.unigram_em_sql(2),
)
def q_unigram_em_refined(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two EM refinement rounds of the unigram LM (Kudo 2018 §3.2 —
    the SentencePiece training loop proper) on top of the
    frequency-seeded piece table, then the same per-language
    fertility / NLL report as unigram_lm_fertility.  EM reallocates
    probability mass from substring-frequency artifacts to pieces
    that actually participate in good segmentations, dropping
    NLL/piece by ~27% over the seed model.

    Scale shape: the substring lattice (occ_frame) is the only
    vocabulary-sized scan and is built + persisted ONCE — each EM
    round is then a vocab-sized broadcast-join + two map-side
    forward/backward HOF folds + one hash aggregate over candidate
    pieces.  The corpus pays two hash aggregates total, exactly as
    the Viterbi-only query.  E-step posteriors quantize to integer
    micro-units before the M-step sum -> bit-reproducible."""
    from advanced_etl_pipelines_spark.functions.text import word_tokens
    from advanced_etl_pipelines_spark.operators.bpe import (
        word_freq_table,
    )
    from advanced_etl_pipelines_spark.operators.unigram_lm import (
        occ_frame,
        unigram_em_step,
        unigram_piece_table,
        unigram_viterbi_words,
    )

    docs = read_sf_table(spark, sf_dir, "documents")
    # ONE corpus-scale tokenize pass (same derivation as
    # bpe_fertility_by_lang): per-(lang, word) counts are the persisted
    # corpus aggregate and the trainer's (word, freq) table is their
    # per-word sum — identical values, half the corpus passes
    counts = (
        docs.select(
            "lang", F.explode(word_tokens("text")).alias("word")
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(tracked_persist)
    )
    wf = (
        counts.groupBy("word")
        .agg(F.sum("n").alias("freq"))
        .transform(tracked_persist)
    )
    occ = occ_frame(wf).transform(tracked_persist)
    pieces = unigram_piece_table(wf)
    for _ in range(2):
        pieces = unigram_em_step(
            wf, pieces, occ=occ
        ).transform(tracked_persist)
    seg = unigram_viterbi_words(wf, pieces, occ=occ)
    return (
        counts.join(seg, "word")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_pieces"))
            .cast("bigint")
            .alias("n_pieces"),
            r4(
                F.sum(F.col("n") * F.col("n_pieces")) / F.sum("n")
            ).alias("fertility"),
            r4(
                -F.sum(F.col("n") * F.col("logprob"))
                / F.sum(F.col("n") * F.col("n_pieces"))
            ).alias("nll_per_piece"),
        )
    )


@query(
    "textrank_keywords",
    f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter({_TOKENS_SQL}, x -> LEN(x) >= 4) AS toks
      FROM documents),
    pos AS (
      SELECT doc_id, t.i, t.w
      FROM tk, UNNEST(list_transform(range(1, LEN(toks) + 1),
                      i -> {{'i': i, 'w': toks[i]}})) AS u(t)),
    vc AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
    vocab AS (
      SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS id
      FROM vc ORDER BY c DESC, w ASC LIMIT 500),
    pv AS (
      SELECT pos.doc_id, pos.i, vocab.id
      FROM pos JOIN vocab ON pos.w = vocab.w),
    co AS (
      SELECT a.id AS s, b.id AS d
      FROM pv a JOIN pv b
        ON a.doc_id = b.doc_id AND b.i = a.i + 1
      UNION ALL
      SELECT a.id, b.id FROM pv a JOIN pv b
        ON a.doc_id = b.doc_id AND b.i = a.i + 2),
    e AS (
      SELECT s, d, COUNT(*) AS cnt FROM (
        SELECT s, d FROM co WHERE s <> d
        UNION ALL
        SELECT d, s FROM co WHERE s <> d) GROUP BY s, d),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT s, SUM(cnt) AS deg FROM e GROUP BY s),
    ew AS (SELECT e.s, e.d, e.cnt * 1.0 / deg.deg AS w
           FROM e JOIN deg ON e.s = deg.s),
    r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
    i1 AS (SELECT ew.d AS node, SUM(r0.pr * ew.w) AS inflow
           FROM ew JOIN r0 ON ew.s = r0.node GROUP BY ew.d),
    r1 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * COALESCE(i1.inflow, 0) AS pr
           FROM nodes CROSS JOIN nn
           LEFT JOIN i1 ON nodes.node = i1.node),
    i2 AS (SELECT ew.d AS node, SUM(r1.pr * ew.w) AS inflow
           FROM ew JOIN r1 ON ew.s = r1.node GROUP BY ew.d),
    r2 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * COALESCE(i2.inflow, 0) AS pr
           FROM nodes CROSS JOIN nn
           LEFT JOIN i2 ON nodes.node = i2.node),
    i3 AS (SELECT ew.d AS node, SUM(r2.pr * ew.w) AS inflow
           FROM ew JOIN r2 ON ew.s = r2.node GROUP BY ew.d),
    r3 AS (SELECT nodes.node,
                  (1.0 - 0.85) / nn.n + 0.85 * COALESCE(i3.inflow, 0) AS pr
           FROM nodes CROSS JOIN nn
           LEFT JOIN i3 ON nodes.node = i3.node)
    SELECT vocab.w AS word,
           ROUND(1e-9 + r3.pr * 1e6, 4) AS rank_ppm
    FROM r3 JOIN vocab ON r3.node = vocab.id
    ORDER BY r3.pr DESC, word ASC LIMIT 20
    """,
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the word co-occurrence graph — words (length >= 4,
    top-500 vocabulary) are nodes, an edge's weight counts how often
    the pair co-occurs within a 3-token window, 3 power iterations,
    top-20 keywords.  The graph and text families composed: the same
    ``pagerank`` operator that ranks co-purchase hubs ranks corpus
    keywords once the edge list is word co-occurrence.

    Scale shape: tokenize + posexplode is the one corpus-scale pass;
    co-occurrence is two EQUI-joins on (doc, position+offset) — never
    a windowed self-cross — pre-aggregated to (pair, count) weights,
    so the iterate-join input is distinct-pair volume, not occurrence
    volume (the new ``weight=`` path of operators/graph.py pagerank).
    Vocabulary ids come from the bounded two-level rank
    (``top_k_global``), keeping the whole pipeline free of
    unpartitioned corpus-scale windows.  The DuckDB oracle unrolls the
    3 weighted iterations as chained CTEs, exactly like
    pagerank_copurchase; ppm rounding absorbs reduce-order noise."""
    from advanced_etl_pipelines_spark.functions.text import word_tokens
    from advanced_etl_pipelines_spark.operators.graph import pagerank
    from advanced_etl_pipelines_spark.operators.scale import top_k_global

    docs = read_sf_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            word_tokens("text"), lambda x: F.length(x) >= 4
        ).alias("toks"),
    )
    # vocabulary: one corpus pass.  The 500-row result is persisted —
    # it re-enters the plan three times (both vocab-filter joins below
    # and the final word attach), and without the persist each
    # BroadcastExchange would re-run the corpus aggregate (the round-10
    # fix persisted the corpus-scale token table instead, which traded
    # a cheap recompute for a corpus-width cache materialization and
    # measured 3.9 -> 5.4 s; persisting the POST-aggregate frame keeps
    # the sharing and caches 500 rows instead of every token).
    vc = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = (
        top_k_global(vc, [F.desc("c"), F.asc("w")], 500)
        .select("w", F.col("rnk").alias("id"))
        .transform(tracked_persist)
    )
    # co-occurrence pairs are generated MAP-SIDE from the token array
    # (offsets 1 and 2 = the 3-token window): zip the array against its
    # own off-shifted slice and explode — the multiset of
    # (toks[j], toks[j+off]) pairs is exactly what the old
    # posexplode + two (doc_id, position) self-joins produced, with
    # ZERO corpus-scale shuffles (the joins shuffled the token table
    # twice on (doc_id, i); guide §2.4).  The vocab filter is two
    # broadcast joins, so the pair aggregate partial-aggregates
    # map-side onto int ids.

    def _off_pairs(off: int):
        n = F.size("toks")
        return F.when(
            n > off,
            F.zip_with(
                F.slice("toks", 1, n - off),
                F.slice("toks", off + 1, n - off),
                lambda x, y: F.struct(x.alias("ws"), y.alias("wd")),
            ),
        ).otherwise(
            F.array().cast("array<struct<ws:string,wd:string>>")
        )

    pairs = toks.select(
        F.explode(F.concat(_off_pairs(1), _off_pairs(2))).alias("p")
    ).select(F.col("p.ws").alias("ws"), F.col("p.wd").alias("wd"))
    co = (
        pairs.join(
            F.broadcast(
                vocab.select(F.col("w").alias("ws"), F.col("id").alias("s"))
            ),
            "ws",
        )
        .join(
            F.broadcast(
                vocab.select(F.col("w").alias("wd"), F.col("id").alias("d"))
            ),
            "wd",
        )
        .select("s", "d")
        .where(F.col("s") != F.col("d"))
    )
    e = (
        co.unionAll(co.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .groupBy("s", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranks = pagerank(e, "s", "d", iters=3, weight="cnt")
    out = (
        ranks.join(
            F.broadcast(vocab.select(F.col("id").alias("node"), "w")),
            "node",
        )
        .select(
            F.col("w").alias("word"),
            (F.col("rank") * 1e6).alias("ppm"),
            "rank",
        )
    )
    return (
        top_k_global(out, [F.desc("rank"), F.asc("word")], 20)
        .select("word", r4(F.col("ppm")).alias("rank_ppm"))
    )
