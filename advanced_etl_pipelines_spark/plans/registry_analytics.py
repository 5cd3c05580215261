"""Behavioral-attribution + robust-statistics queries [extension].

The marketing/product-analytics surface (last-touch attribution, EWMA
trend smoothing, rolling active users) and robust statistics (MAD
outliers, winsorized means, revenue concentration, TF-IDF terms) — all
expressed as native DataFrame plans and DuckDB-oracle-checked.  No
reference counterpart (the reference is batch AQ/weather ETL,
SURVEY.md §2.3 ends at group-by/pivot/top-k); these extend the same
aggregate-window toolbox the §2.3 operators exercise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from advanced_etl_pipelines_spark.functions import text as T
from advanced_etl_pipelines_spark.operators import scale as S
from advanced_etl_pipelines_spark.plans import oracle_replays
from advanced_etl_pipelines_spark.plans.registry import query, r2, r4, sql_query
from advanced_etl_pipelines_spark.sources.readers import read_sf_table
from advanced_etl_pipelines_spark.operators.caching import (
    tracked_persist,
)


@query(
    "attribution_last_touch",
    """
    WITH c AS (
      SELECT event_type, value,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events)
    SELECT COALESCE(channel, '(direct)') AS channel,
           COUNT(*) AS conversions,
           ROUND(1e-9 + SUM(value), 2) AS attributed_value
    FROM c WHERE event_type = 'purchase'
    GROUP BY COALESCE(channel, '(direct)')
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent prior non-purchase event type.  One window pass
    (last(ignorenulls) over an unbounded-preceding frame shifted one row
    back) — no self-join, one shuffle on user_id; purchases with no
    prior touch fall to '(direct)'."""
    ev = read_sf_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("channel", channel)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(direct)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            r2(F.sum("value")).alias("attributed_value"),
        )
    )


@query(
    "ewma_daily_value",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, SUM(value) AS rev
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    r AS (
      SELECT event_type, d, rev,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily)
    SELECT a.event_type, a.d,
           ROUND(1e-9 + SUM(b.rev * POWER(0.9, a.rn - b.rn))
                        / SUM(POWER(0.9, a.rn - b.rn)), 4) AS ewma_rev
    FROM r a JOIN r b
      ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 29 AND a.rn
    GROUP BY a.event_type, a.d
    """,
)
def q_ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA trend smoothing (alpha-decay 0.9, 30-observation horizon)
    over daily value sums per event type.  The recursive EWMA is
    re-expressed as a closed-form weighted window: collect the trailing
    frame once, weight by 0.9^(age) with a HOF transform (JVM-side,
    index-aware lambda), normalize by the geometric-series sum — no
    self-join, no iteration, one shuffle for the daily rollup and the
    window reuses it (same key prefix)."""
    ev = read_sf_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum("value").alias("rev"))
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-29, 0)
    vals = F.collect_list("rev").over(w)
    n = F.size(vals)
    weighted = F.aggregate(
        F.transform(
            vals,
            lambda x, i: x * F.pow(F.lit(0.9), (n - 1 - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(
            vals, lambda _, i: F.pow(F.lit(0.9), (n - 1 - i).cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return daily.select(
        "event_type", "d", r4(weighted / den).alias("ewma_rev")
    )


sql_query(
    "rolling_7d_active_users",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM du)
    SELECT a.d, CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS active_users_7d
    FROM days a JOIN du b ON b.d BETWEEN a.d - 6 AND a.d
    GROUP BY a.d
    """,
    "Rolling 7-day distinct active users per day — the WAU curve.",
)


sql_query(
    "entropy_event_types",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type),
    p AS (
      SELECT user_id,
             n * 1.0 / SUM(n) OVER (PARTITION BY user_id) AS p
      FROM c),
    e AS (SELECT user_id, -SUM(p * LN(p)) AS ent FROM p GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(1e-9 + AVG(ent), 4) AS avg_entropy,
           ROUND(1e-9 + MIN(ent), 4) AS min_entropy,
           ROUND(1e-9 + MAX(ent), 4) AS max_entropy
    FROM e
    """,
    "Shannon entropy of each user's event-type mix (behavioral diversity "
    "score), rolled up to corpus stats.",
)


sql_query(
    "anomaly_mad_robust",
    """
    WITH med AS (
      SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, ABS(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1e-9 + ANY_VALUE(d.med), 4) AS median_v,
           ROUND(1e-9 + ANY_VALUE(m.mad), 4) AS mad_v,
           CAST(SUM(CASE WHEN 0.6745 * d.adev / m.mad > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    "Robust outlier detection: modified z-score 0.6745·|x−median|/MAD > "
    "3.5 (Iglewicz–Hoaglin) per event type.",
)


sql_query(
    "winsorized_mean_price",
    """
    WITH q AS (
      SELECT l_returnflag,
             percentile_cont(0.05) WITHIN GROUP (ORDER BY l_extendedprice) AS p05,
             percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS p95
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1e-9 + AVG(l.l_extendedprice), 4) AS raw_mean,
           ROUND(1e-9 + AVG(LEAST(GREATEST(l.l_extendedprice, q.p05), q.p95)),
                 4) AS winsorized_mean,
           ROUND(1e-9 + ANY_VALUE(q.p05), 4) AS p05,
           ROUND(1e-9 + ANY_VALUE(q.p95), 4) AS p95
    FROM lineitem l JOIN q USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
    "Winsorized mean (clip to [p05, p95] before averaging) per return "
    "flag — the tail-robust KPI variant.",
)


@query(
    "heavy_hitters_cumshare",
    """
    WITH s AS (
      SELECT l_partkey, SUM(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT SUM(rev) AS tot FROM s),
    r AS (
      SELECT l_partkey, rev, tot,
             SUM(rev) OVER (ORDER BY ROUND(1e-9 + rev, 2) DESC,
                            l_partkey) AS cum
      FROM s CROSS JOIN t)
    SELECT l_partkey,
           ROUND(1e-9 + rev, 2) AS rev,
           ROUND(1e-9 + cum * 100.0 / tot, 4) AS cum_pct
    FROM r WHERE cum - rev <= tot * 0.01
    """,
)
def q_heavy_hitters_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the heaviest parts up to 1% of cumulative
    revenue share, with running share.  The global ordered window runs
    on the PRE-AGGREGATED per-part frame (|parts|, not |lineitem|), and
    only the PRUNED survivor frame sorts on one partition.

    Two-level pass (the round-1 docstring mitigation, now the
    implementation): each partition computes its LOCAL running share in
    (rev desc, key) order and keeps only rows whose local
    cum - rev <= 1% of the broadcast global total.  A row's local
    predecessors are a subset of its global predecessors, so
    local cum <= global cum and every true answer row survives the
    prune; the global window then runs over ~(result x n_partitions)
    rows, bounded by the answer size times cluster width — not by
    |parts|, which is ~20M at 100x.

    The running sum orders by the OUTPUT-rounded revenue (r2), not the
    raw double: mathematically-tied parts (the sf1 replicas) carry
    ~1e-7 cross-engine accumulation noise in the raw sums, so a raw
    ordering resolves their ties differently per engine and the
    cumulative shares diverge (caught by the sf1 answer gate); at the
    rounded key, ties fall through to the deterministic l_partkey
    tiebreak on both engines."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev"
        )
    )
    tot = s.agg(F.sum("rev").alias("tot"))
    wl = Window.partitionBy("__pid").orderBy(
        F.desc(r2(F.col("rev"))), F.asc("l_partkey")
    )
    pruned = (
        s.withColumn("__pid", F.spark_partition_id())
        .join(F.broadcast(tot))
        .withColumn("lcum", F.sum("rev").over(wl))
        .where(F.col("lcum") - F.col("rev") <= F.col("tot") * 0.01)
        .drop("__pid", "lcum")
    )
    w = Window.orderBy(F.desc(r2(F.col("rev"))), F.asc("l_partkey"))
    r = pruned.withColumn("cum", F.sum("rev").over(w))
    return r.where(
        F.col("cum") - F.col("rev") <= F.col("tot") * 0.01
    ).select(
        "l_partkey",
        r2(F.col("rev")).alias("rev"),
        r4(F.col("cum") * 100.0 / F.col("tot")).alias("cum_pct"),
    )


@query(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, lang, token, COUNT(*) AS tf
      FROM tok GROUP BY doc_id, lang, token),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    score AS (
      SELECT tf.lang, tf.token,
             SUM(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0))) AS s
      FROM tf JOIN df USING (token) CROSS JOIN n
      GROUP BY tf.lang, tf.token),
    ranked AS (
      SELECT lang, token, s,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY ROUND(1e-9 + s, 4) DESC,
                                         token) AS rnk
      FROM score)
    SELECT lang, token, ROUND(1e-9 + s, 4) AS tfidf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 terms per language by summed
    tf·idf (smoothed ln((N+1)/(df+1))).  One token explode feeds both
    the per-doc TF and the DF aggregates; DF and the doc count are tiny
    relative to the corpus and broadcast into the scoring join — the
    token stream shuffles once (on token) for DF, once (lang,token) for
    scoring, then a 5-row-per-lang window top-k."""
    docs = read_sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(T.word_tokens("text")).alias("token")
    )
    tf = tok.groupBy("doc_id", "lang", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    score = (
        tf.join(df, "token")
        .join(F.broadcast(n))
        .groupBy("lang", "token")
        .agg(
            F.sum(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("s")
        )
    )
    # rank by the OUTPUT-rounded score: mathematically-tied terms (sf1
    # replicas) differ by ~1e-10 of engine-specific float noise in the
    # raw sum, so a raw ordering picks different "top" terms per engine
    # — at r4 the ties collapse and the token tiebreak decides on both
    w = Window.partitionBy("lang").orderBy(
        F.desc(r4(F.col("s"))), F.asc("token")
    )
    return (
        score.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select(
            "lang",
            "token",
            r4(F.col("s")).alias("tfidf"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# Deterministic Poisson(1) bootstrap: replica weights from the
# engine-portable unit hash (operators/sampling.py) via the inverse CDF,
# so Spark and DuckDB draw IDENTICAL resamples — the bootstrap becomes
# oracle-checkable.  Thresholds are the Poisson(1) CDF at k=0..4.
_POISSON_CDF = [0.36787944, 0.73575888, 0.91969860, 0.98101184, 0.99634015]
_N_REPLICAS = 20
_KNUTH = 2654435761
_MOD = 4294967296


def _bootstrap_u_sql(r: int) -> str:
    key = "(l_orderkey * 10 + l_linenumber)"
    return (
        f"((({key} % 2147483648 + {r} * 7919) * {_KNUTH}) % {_MOD})"
        f" / {_MOD}.0"
    )


def _w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POISSON_CDF)
    )
    return f"(CASE {cases} ELSE 5 END)"


_BOOT_COLS = ",\n      ".join(
    f"SUM({_w_sql(_bootstrap_u_sql(r))} * l_extendedprice)"
    f" / SUM({_w_sql(_bootstrap_u_sql(r))}) AS m{r}"
    for r in range(_N_REPLICAS)
)
_BOOT_LIST = ", ".join(f"m{r}" for r in range(_N_REPLICAS))

_BOOTSTRAP_ORACLE = f"""
    WITH reps AS (
      SELECT AVG(l_extendedprice) AS mean_price,
      {_BOOT_COLS}
      FROM lineitem),
    s AS (
      SELECT mean_price, unnest([{_BOOT_LIST}]) AS m FROM reps)
    SELECT ROUND(1e-9 + ANY_VALUE(mean_price), 4) AS mean_price,
           ROUND(1e-9 + STDDEV_SAMP(m), 4) AS se_bootstrap,
           ROUND(1e-9 + ANY_VALUE(mean_price) - 1.96 * STDDEV_SAMP(m), 4)
             AS ci_lo,
           ROUND(1e-9 + ANY_VALUE(mean_price) + 1.96 * STDDEV_SAMP(m), 4)
             AS ci_hi
    FROM s
"""


@query("bootstrap_mean_ci", _BOOTSTRAP_ORACLE)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap standard error / 95% CI for the mean price in
    ONE scan: each of 20 replicas weights every row by a deterministic
    Poisson(1) draw (inverse CDF over the portable unit hash keyed on
    (row id, replica)), so all replica sums run as side-by-side
    aggregates — the only distributed-bootstrap formulation that works
    at 100 TB (resampling by materializing replicas would be 20x the
    I/O; this is 40 extra codegen aggregates on one pass)."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")) % F.lit(
        2147483648
    )

    def w(r: int):
        u = ((key + r * 7919) * F.lit(_KNUTH) % F.lit(_MOD)) / F.lit(
            float(_MOD)
        )
        expr = F.lit(5)
        for k, c in reversed(list(enumerate(_POISSON_CDF))):
            expr = F.when(u < c, k).otherwise(expr)
        return expr

    aggs = [F.avg("l_extendedprice").alias("mean_price")]
    for r in range(_N_REPLICAS):
        wr = w(r)
        aggs.append(
            (
                F.sum(wr * F.col("l_extendedprice")) / F.sum(wr)
            ).alias(f"m{r}")
        )
    reps = li.agg(*aggs)
    ms = F.array(*[F.col(f"m{r}") for r in range(_N_REPLICAS)])
    n = float(_N_REPLICAS)
    mean_m = F.aggregate(ms, F.lit(0.0), lambda a, x: a + x) / n
    var = F.aggregate(
        ms, F.lit(0.0), lambda a, x: a + (x - mean_m) * (x - mean_m)
    ) / (n - 1)
    se = F.sqrt(var)
    return reps.select(
        r4(F.col("mean_price")).alias("mean_price"),
        r4(se).alias("se_bootstrap"),
        r4(F.col("mean_price") - 1.96 * se).alias("ci_lo"),
        r4(F.col("mean_price") + 1.96 * se).alias("ci_hi"),
    )


sql_query(
    "heatmap_2d_bins",
    """
    WITH b AS (
      SELECT MIN(l_quantity) AS xlo, MAX(l_quantity) AS xhi,
             MIN(l_extendedprice) AS ylo, MAX(l_extendedprice) AS yhi
      FROM lineitem)
    SELECT LEAST(CAST(FLOOR((l_quantity - xlo) / ((xhi - xlo) / 20.0))
                      AS INT), 19) AS xbucket,
           LEAST(CAST(FLOOR((l_extendedprice - ylo) / ((yhi - ylo) / 20.0))
                      AS INT), 19) AS ybucket,
           COUNT(*) AS cnt
    FROM lineitem, b GROUP BY 1, 2
    """,
    "2-D density binning (quantity x price, 20x20) — the engine's answer to "
    "the reference's row-capped scatter chart (S13 samples 2,000 rows \"for "
    "performance\"; this aggregates every row into 400 cells in o",
)


sql_query(
    "grouping_id_report",
    """
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COUNT(*) AS cnt,
           ROUND(1e-9 + SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "CUBE with GROUPING_ID: the bitmask distinguishes a subtotal NULL from a "
    "NULL data value — without it, rollup/cube outputs are ambiguous the "
    "moment a grouping column is nullable.",
)


@query(
    "ols2_fit_score",
    """
    WITH m AS (
      SELECT COUNT(*) AS n,
             AVG(l_quantity) AS m1, AVG(l_discount) AS m2,
             AVG(l_extendedprice) AS my,
             SUM(l_quantity * l_quantity) AS s11r,
             SUM(l_discount * l_discount) AS s22r,
             SUM(l_quantity * l_discount) AS s12r,
             SUM(l_quantity * l_extendedprice) AS s1yr,
             SUM(l_discount * l_extendedprice) AS s2yr
      FROM lineitem),
    c AS (
      SELECT n, m1, m2, my,
             s11r - n * m1 * m1 AS s11,
             s22r - n * m2 * m2 AS s22,
             s12r - n * m1 * m2 AS s12,
             s1yr - n * m1 * my AS s1y,
             s2yr - n * m2 * my AS s2y
      FROM m),
    b AS (
      SELECT n, my,
             (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
             (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2,
             m1, m2
      FROM c),
    bb AS (SELECT n, my, b1, b2, my - b1 * m1 - b2 * m2 AS b0 FROM b),
    sc AS (
      SELECT bb.b0, bb.b1, bb.b2,
             SUM(POWER(l_extendedprice
                       - (bb.b0 + bb.b1 * l_quantity
                          + bb.b2 * l_discount), 2)) AS sse,
             SUM(POWER(l_extendedprice - bb.my, 2)) AS sst,
             COUNT(*) AS n
      FROM lineitem CROSS JOIN bb
      GROUP BY bb.b0, bb.b1, bb.b2)
    SELECT ROUND(1e-9 + b0, 4) AS b0,
           ROUND(1e-9 + b1, 4) AS b1,
           ROUND(1e-9 + b2, 4) AS b2,
           ROUND(1e-9 + SQRT(sse / n), 4) AS rmse,
           ROUND(1e-9 + 1.0 - sse / sst, 4) AS r2
    FROM sc
    """,
)
def q_ols2_fit_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine ML: two-feature linear model (price ~ quantity +
    discount) fit AND scored as pure SQL — the operator-fusion
    model-serving idea (express fit + inference as native columns, no
    MLlib, no Python).  Fit = one aggregate pass producing the co-moment
    matrix, solved in closed form (Cramer's rule on the 2x2 normal
    equations); scoring = second pass with the coefficient row broadcast
    back, emitting RMSE/R².  Both passes are plain codegen aggregates, so
    the "training" scales exactly like any other groupBy at 100 TB."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(x1).alias("m1"),
        F.avg(x2).alias("m2"),
        F.avg(y).alias("my"),
        F.sum(x1 * x1).alias("s11r"),
        F.sum(x2 * x2).alias("s22r"),
        F.sum(x1 * x2).alias("s12r"),
        F.sum(x1 * y).alias("s1yr"),
        F.sum(x2 * y).alias("s2yr"),
    )
    c = m.select(
        "n", "m1", "m2", "my",
        (F.col("s11r") - F.col("n") * F.col("m1") * F.col("m1")).alias("s11"),
        (F.col("s22r") - F.col("n") * F.col("m2") * F.col("m2")).alias("s22"),
        (F.col("s12r") - F.col("n") * F.col("m1") * F.col("m2")).alias("s12"),
        (F.col("s1yr") - F.col("n") * F.col("m1") * F.col("my")).alias("s1y"),
        (F.col("s2yr") - F.col("n") * F.col("m2") * F.col("my")).alias("s2y"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b = c.select(
        "my", "m1", "m2",
        ((F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det).alias("b1"),
        ((F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det).alias("b2"),
    ).select(
        "my", "b1", "b2",
        (F.col("my") - F.col("b1") * F.col("m1") - F.col("b2") * F.col("m2")).alias("b0"),
    )
    pred = F.col("b0") + F.col("b1") * x1 + F.col("b2") * x2
    sc = (
        li.crossJoin(F.broadcast(b))
        .agg(
            F.any_value(F.col("b0")).alias("b0v"),
            F.any_value(F.col("b1")).alias("b1v"),
            F.any_value(F.col("b2")).alias("b2v"),
            F.any_value(F.col("my")).alias("myv"),
            F.sum(F.pow(y - pred, F.lit(2))).alias("sse"),
            F.sum(F.pow(y - F.col("my"), F.lit(2))).alias("sst"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return sc.select(
        r4(F.col("b0v")).alias("b0"),
        r4(F.col("b1v")).alias("b1"),
        r4(F.col("b2v")).alias("b2"),
        r4(F.sqrt(F.col("sse") / F.col("n"))).alias("rmse"),
        r4(F.lit(1.0) - F.col("sse") / F.col("sst")).alias("r2"),
    )


sql_query(
    "tree_score_confusion",
    """
    WITH scored AS (
      SELECT (event_type = 'purchase') AS actual,
             (CASE
                WHEN value IS NULL THEN FALSE
                WHEN value > 75.0 THEN TRUE
                WHEN value > 40.0 AND EXTRACT(hour FROM ts) >= 18 THEN TRUE
                ELSE FALSE
              END) AS pred
      FROM events)
    SELECT CAST(SUM(CASE WHEN actual AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN NOT actual AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN actual AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN NOT actual AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           ROUND(1e-9 + SUM(CASE WHEN actual AND pred THEN 1 ELSE 0 END) * 1.0
                 / GREATEST(SUM(CASE WHEN pred THEN 1 ELSE 0 END), 1), 4)
             AS precision_,
           ROUND(1e-9 + SUM(CASE WHEN actual AND pred THEN 1 ELSE 0 END) * 1.0
                 / GREATEST(SUM(CASE WHEN actual THEN 1 ELSE 0 END), 1), 4)
             AS recall_
    FROM scored
    """,
    "Decision-tree model serving as native expressions: a (fixed, "
    "pre-trained) depth-2 tree compiles to nested CASE WHEN — the "
    "operator-fusion way to run tree inference inside the scan, in "
    "whole-stage codegen, with the confusion matrix and precision/recall "
    "aggregated in the same pass.",
)


@query(
    "nb_lang_confusion",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS token
      FROM documents),
    vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
        FROM tok GROUP BY token) WHERE rn <= 2000),
    langs AS (SELECT DISTINCT lang FROM documents),
    counts AS (
      SELECT t.lang, t.token, COUNT(*) AS cnt
      FROM tok t JOIN vocab v USING (token)
      GROUP BY t.lang, t.token),
    totals AS (SELECT lang, SUM(cnt) AS tot FROM counts GROUP BY lang),
    vsize AS (SELECT COUNT(*) AS v FROM vocab),
    priors AS (
      SELECT lang, COUNT(*) AS docs,
             LN(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents)) AS lp
      FROM documents GROUP BY lang),
    dt AS (
      SELECT t.doc_id, t.lang AS actual, t.token
      FROM tok t JOIN vocab v USING (token)),
    scored AS (
      SELECT dt.doc_id, dt.actual, l.lang AS cand,
             SUM(LN((COALESCE(c.cnt, 0) + 1.0) / (tt.tot + vs.v))) AS ll
      FROM dt CROSS JOIN langs l
      LEFT JOIN counts c ON c.lang = l.lang AND c.token = dt.token
      JOIN totals tt ON tt.lang = l.lang
      CROSS JOIN vsize vs
      GROUP BY dt.doc_id, dt.actual, l.lang),
    best AS (
      SELECT doc_id, actual, cand AS pred
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id
          ORDER BY ll + (SELECT lp FROM priors p WHERE p.lang = cand) DESC,
                   cand) AS rn
        FROM scored) WHERE rn = 1)
    SELECT actual, pred, COUNT(*) AS n_docs
    FROM best GROUP BY actual, pred
    """,
)
def q_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine naive Bayes: fit AND classify with nothing but
    aggregates and joins — multinomial NB over the top-2000 vocabulary
    with Laplace smoothing, self-evaluated as a language-ID confusion
    matrix.  The model (token likelihoods, priors, totals) is a handful
    of small aggregate frames that broadcast into the scoring join; the
    corpus-side token stream shuffles once for the per-(doc, candidate)
    log-likelihood sum.  The top-2000 vocabulary is an exact two-level
    top-k (``top_k_global``) — no window over the corpus-scale term
    frame.  Unseen-in-class tokens get the +1 floor via the
    left join's COALESCE — semantics identical on both engines, so the
    whole classifier is oracle-checked."""
    docs = read_sf_table(spark, sf_dir, "documents")
    n_docs_total = docs.count()
    # tokenize ONCE: the token stream feeds the vocab build, the scoring
    # stream AND the per-class counts — persisting the pre-explode array
    # frame keeps the regexp tokenizer to a single corpus pass while the
    # (cheap) explode re-runs per consumer.  vocab likewise persists:
    # two broadcasts + a count would otherwise recompute the full
    # token aggregate three times.
    toks = docs.select(
        "doc_id", "lang", T.word_tokens("text").alias("toks")
    ).transform(tracked_persist)
    tok = toks.select(
        "doc_id", "lang", F.explode("toks").alias("token")
    )
    vocab = S.top_k_global(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")),
        [F.desc("cnt"), F.asc("token")],
        2000,
    ).select("token").transform(tracked_persist)
    langs = docs.select("lang").distinct().withColumnRenamed("lang", "cand")
    dt = tok.join(F.broadcast(vocab), "token").select(
        "doc_id", F.col("lang").alias("actual"), "token"
    )
    counts = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(tracked_persist)
    )
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vsize = vocab.count()
    priors = docs.groupBy("lang").agg(
        F.log(F.count(F.lit(1)) / F.lit(float(n_docs_total))).alias("lp")
    )
    scored = (
        dt.crossJoin(F.broadcast(langs))
        .join(
            F.broadcast(counts.withColumnRenamed("lang", "cand")),
            ["cand", "token"],
            "left",
        )
        .join(F.broadcast(totals.withColumnRenamed("lang", "cand")), "cand")
        .groupBy("doc_id", "actual", "cand")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                    / (F.col("tot") + F.lit(float(vsize)))
                )
            ).alias("ll")
        )
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.desc(F.col("ll") + F.col("lp")), F.asc("cand")
    )
    best = (
        scored.join(
            F.broadcast(priors.withColumnRenamed("lang", "cand")), "cand"
        )
        .withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
    )
    return best.groupBy(
        F.col("actual"), F.col("cand").alias("pred")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "pca_embedding_projection",
    # Expected-output frame computed at sf0.01.  Deliberately NOT
    # converted to a SQL replay in round 5: the embedding covariance
    # spectrum is near-isotropic (measured lambda2/lambda1 = 0.987,
    # lambda3/lambda2 = 0.980 at sf0.01), so an unrolled power/subspace
    # iteration would need ~800 rounds to separate pc1/pc2 to 4-decimal
    # parity with numpy's exact eigh — genuinely non-SQL-expressible,
    # unlike the kcenter/markov/BPE/unigram replays.  The compensating
    # scale ANSWER check is tests/test_pca_parity.py: an independent
    # single-process numpy pipeline must reproduce the frame exactly at
    # sf0.01 AND sf1.
    """
    SELECT label, n,
           CAST(mean_pc1 AS DOUBLE) AS mean_pc1,
           CAST(mean_pc2 AS DOUBLE) AS mean_pc2,
           CAST(var_pc1 AS DOUBLE) AS var_pc1,
           CAST(var_pc2 AS DOUBLE) AS var_pc2
    FROM (VALUES
      (CAST(0 AS INTEGER), CAST(50 AS BIGINT), -0.0093, -0.0526, 0.0276, 0.0272),
      (1, 46, -0.0202, -0.0053, 0.0276, 0.0272),
      (2, 47,  0.0203,  0.0114, 0.0276, 0.0272),
      (3, 59, -0.0019,  0.0249, 0.0276, 0.0272),
      (4, 52,  0.0078,  0.0536, 0.0276, 0.0272),
      (5, 44,  0.0248,  0.0059, 0.0276, 0.0272),
      (6, 46, -0.0151, -0.0098, 0.0276, 0.0272),
      (7, 53, -0.0107, -0.0114, 0.0276, 0.0272),
      (8, 49, -0.0192, -0.0239, 0.0276, 0.0272),
      (9, 54,  0.0232,  0.0010, 0.0276, 0.0272)
    ) AS t(label, n, mean_pc1, mean_pc2, var_pc1, var_pc2)
    """,
    sf_pinned=True,
)
def q_pca_embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (operators/linalg.py): covariance from per-batch
    BLAS partial moments (treeAggregate through the Arrow seam), d×d
    eigendecomposition driver-side (O(d³), row-count-independent),
    projection as one batch matmul per Arrow batch.  Output: per-label
    mean of the first two principal coordinates + variance explained —
    the embedding-drift / cluster-structure diagnostic for a training
    corpus."""
    from advanced_etl_pipelines_spark.operators.linalg import (
        pca_fit,
        pca_project,
    )

    emb = read_sf_table(spark, sf_dir, "embeddings")
    fit = pca_fit(emb, "embedding", k=2)
    proj = pca_project(
        emb, "embedding", "vec_id", fit["mean"], fit["components"]
    )
    labeled = proj.join(emb.select("vec_id", "label"), "vec_id")
    return labeled.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        r4(F.avg(F.element_at("pc", 1))).alias("mean_pc1"),
        r4(F.avg(F.element_at("pc", 2))).alias("mean_pc2"),
        r4(F.lit(fit["explained_var"][0])).alias("var_pc1"),
        r4(F.lit(fit["explained_var"][1])).alias("var_pc2"),
    )


@query(
    "kmeans_cluster_profile",
    # Full DuckDB Lloyd replay (round-8 VERDICT item 3: was rows-only).
    # Value-hashable because kmeans_lloyd assigns on the QUANTIZED
    # distance round(d2+1e-9, 6) with a lowest-cluster-index tie-break
    # and quantizes centroid means to 1e-7 — the round-6 rounded-tie
    # rule — so FP reduce-order noise (~1e-14) can no longer flip
    # cluster membership cross-engine.  Numpy parity + convergence
    # stay pinned in tests/test_relational.py.
    oracle_replays.kmeans_profile_sql(k=8, iters=3),
)
def q_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus distributed k-means (operators/linalg.py
    kmeans_lloyd, k=8, 3 iterations): per-cluster size and
    label-purity profile — the corpus-structure diagnostic
    (near-duplicate pockets, topic lumps) run on embeddings.  Each
    iteration is one Arrow-matmul pass + a k·batches partial-sum fold;
    nothing row-scale ever reaches the driver."""
    from advanced_etl_pipelines_spark.operators.linalg import kmeans_lloyd

    emb = read_sf_table(spark, sf_dir, "embeddings")
    _, assign = kmeans_lloyd(emb, "embedding", "vec_id", k=8, iters=3)
    labeled = assign.join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    )
    mode_share = F.max("n") * 1.0 / F.sum("n")
    per = labeled.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per.groupBy("cluster").agg(
        F.sum("n").alias("size"),
        F.count(F.lit(1)).alias("n_labels"),
        r4(mode_share).alias("top_label_share"),
    )


@query(
    "pagerank_copurchase",
    """
    WITH e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS d
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
    ew AS (SELECT e.s, e.d, 1.0 / deg.deg AS w
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
    SELECT node, ROUND(1e-9 + pr * 1e6, 4) AS rank_ppm
    FROM r3 ORDER BY pr DESC, node ASC LIMIT 10
    """,
)
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts appearing in the
    same order are linked, both directions, so the graph is symmetric
    and dangling-free).  Edge build is one self-join within order keys
    — bounded fanout, orders have single-digit lines; 3 power
    iterations of join+aggregate with lineage checkpointing.
    Multigraph mode (dedupe_edges=False): pair multiplicity = tie
    strength, and the full-edge distinct shuffle is skipped.  Output:
    top-10 parts by rank (graph-centrality 'hub products').

    The DuckDB oracle unrolls the 3 power iterations as chained CTEs
    (round-3: was rows-only) — fixed iteration count makes the whole
    computation SQL-expressible, and the ppm-scale rounding absorbs the
    cross-engine FP reduce-order noise (~1e-12 relative); the numpy
    parity test in tests/test_graph.py stays as the independent pin."""
    from advanced_etl_pipelines_spark.operators.graph import pagerank

    li = read_sf_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(b, "l_orderkey").where(
        F.col("a.l_partkey") != F.col("b.l_partkey")
    ).select(
        F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d")
    )
    ranks = pagerank(edges, "s", "d", iters=3, dedupe_edges=False)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("node"))
        .limit(10)
        .select("node", r4(F.col("rank") * 1e6).alias("rank_ppm"))
    )


@query(
    "recursive_calendar_gaps",
    """
    WITH RECURSIVE bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
      FROM events),
    cal(d) AS (
      SELECT lo FROM bounds
      UNION ALL
      SELECT d + 1 FROM cal, bounds WHERE d < hi),
    daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
      FROM events GROUP BY CAST(ts AS DATE))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS gap_days,
           CAST(MIN(cal.d) AS DATE) AS first_day,
           CAST(MAX(cal.d) AS DATE) AS last_day
    FROM cal LEFT JOIN daily ON cal.d = daily.d
    """,
)
def q_recursive_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): calendar spine between the corpus
    min/max day, left-joined to daily counts for coverage/gap stats —
    the declarative twin of the sequence()-based gap-fill
    (`resample_gapfill`).  Spark executes one micro-stage per recursion
    LEVEL, so the recursion advances by 16-day strides (depth =
    range/16, ~10 levels instead of ~150) and each stride explodes into
    its days with sequence() — same spine, an order of magnitude fewer
    sequential stages.  That depth-vs-work trade is the general recipe
    for recursive CTEs on this engine."""
    ev = read_sf_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__rcg_events")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
          SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
          FROM __rcg_events),
        strides(d0) AS (
          SELECT lo FROM bounds
          UNION ALL
          SELECT DATE_ADD(d0, 16) FROM strides, bounds
          WHERE DATE_ADD(d0, 16) <= hi),
        cal AS (
          SELECT explode(sequence(d0, LEAST(DATE_ADD(d0, 15), hi))) AS d
          FROM strides, bounds),
        daily AS (
          SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
          FROM __rcg_events GROUP BY CAST(ts AS DATE))
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS gap_days,
               MIN(cal.d) AS first_day,
               MAX(cal.d) AS last_day
        FROM cal LEFT JOIN daily ON cal.d = daily.d
        """
    )


@query(
    "zipf_alpha_fit",
    """
    WITH tok AS (
      SELECT unnest(
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS token
      FROM documents),
    v AS (
      SELECT token, COUNT(*) AS freq,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rnk
      FROM tok GROUP BY token),
    top AS (SELECT LN(rnk) AS x, LN(freq) AS y FROM v WHERE rnk <= 1000),
    m AS (
      SELECT COUNT(*) AS n, AVG(x) AS mx, AVG(y) AS my,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM top)
    SELECT ROUND(1e-9 - (sxy - n * mx * my) / (sxx - n * mx * mx), 4)
             AS zipf_alpha,
           ROUND(1e-9 + my + (sxy - n * mx * my) / (sxx - n * mx * mx) * (0 - mx),
                 4) AS ln_c,
           CAST(n AS BIGINT) AS n_terms
    FROM m
    """,
)
def q_zipf_alpha_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus vocabulary: ln(freq) regressed
    on ln(rank) over the top-1000 terms — slope = −α (natural English
    runs α ≈ 1; big deviations flag synthetic/boilerplate corpora, a
    standard pretraining-data health check).  One token explode, one
    vocab aggregate, an exact two-level top-k (``top_k_global`` — ranks
    of survivors equal their global ranks, so ln(rank) is exact), then a
    closed-form simple regression — all single-pass aggregates."""
    toks = read_sf_table(spark, sf_dir, "documents").select(
        F.explode(T.word_tokens("text")).alias("token")
    )
    v = S.top_k_global(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq")),
        [F.desc("freq"), F.asc("token")],
        1000,
    ).select(F.log("rnk").alias("x"), F.log("freq").alias("y"))
    m = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) / (
        F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")
    )
    return m.select(
        r4(-slope).alias("zipf_alpha"),
        r4(F.col("my") + slope * (0 - F.col("mx"))).alias("ln_c"),
        F.col("n").alias("n_terms"),
    )


sql_query(
    "drift_psi_value",
    """
    WITH tagged AS (
      SELECT value,
             CAST(ts AS DATE) >= DATE '2024-01-16' AS recent
      FROM events WHERE value IS NOT NULL),
    b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM tagged),
    binned AS (
      SELECT recent,
             CASE WHEN hi > lo THEN
               LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 10.0)) AS INT), 9)
             ELSE 0 END AS bucket
      FROM tagged, b),
    dist AS (
      SELECT bucket,
             SUM(CASE WHEN NOT recent THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN recent THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bucket),
    tot AS (
      SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM dist),
    p AS (
      SELECT bucket,
             (n_ref + 0.5) / (t_ref + 5.0) AS pr,
             (n_cur + 0.5) / (t_cur + 5.0) AS pc
      FROM dist, tot)
    SELECT ROUND(1e-9 + SUM((pc - pr) * LN(pc / pr)), 6) AS psi,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM p
    """,
    "Population Stability Index between the first and second half of the "
    "event window (10 equal-width buckets over the shared range, +0.5 "
    "Laplace smoothing so empty buckets stay finite) — THE standard "
    "feature-drift alarm for a deployed model (psi > 0.2 = investigate).",
)


@query(
    "drift_ks_value",
    """
    WITH tagged AS (
      SELECT value,
             CAST(ts AS DATE) >= DATE '2024-01-16' AS recent
      FROM events WHERE value IS NOT NULL),
    d AS (
      SELECT value,
             SUM(CASE WHEN recent THEN 0 ELSE 1 END) AS n_ref,
             SUM(CASE WHEN recent THEN 1 ELSE 0 END) AS n_cur
      FROM tagged GROUP BY value),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM d),
    steps AS (
      SELECT SUM(n_ref) OVER w AS c_ref,
             SUM(n_cur) OVER w AS c_cur
      FROM d WINDOW w AS (ORDER BY value))
    SELECT ROUND(1e-9 + MAX(ABS(c_ref * 1.0 / t_ref - c_cur * 1.0 / t_cur)),
                 6) AS ks_stat
    FROM steps, tot
    """,
)
def q_drift_ks_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the two halves of
    the window: sup-gap between the empirical CDFs.

    The CDFs step only at distinct values, so the running counts are
    computed on the per-DISTINCT-VALUE aggregate (groupBy value ->
    n_ref/n_cur, then running sums ordered by value).  That is both the
    textbook definition (ties are CDF peers, so the round-1 per-row ROWS
    frame was tie-order nondeterministic — ADVICE.md) and the scale fix:
    the running sums come from ``global_running_sums``' distributed
    prefix sum (range-partitioned windows + broadcast offsets), so no
    single-partition full-data sort exists in the plan.  The bucketed
    approximation for when even the distinct-value frame is huge is
    ``drift_ks_bucketed``."""
    ev = read_sf_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    tagged = ev.select(
        "value", (F.to_date("ts") >= F.lit("2024-01-16")).alias("recent")
    )
    d = tagged.groupBy("value").agg(
        F.sum(F.when(~F.col("recent"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("recent"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = d.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    steps = S.global_running_sums(d, ["value"], ["n_ref", "n_cur"])
    return steps.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.lit(1e-9)
            + F.max(
                F.abs(
                    F.col("cum_n_ref") / F.col("t_ref")
                    - F.col("cum_n_cur") / F.col("t_cur")
                )
            ),
            6,
        ).alias("ks_stat")
    )


sql_query(
    "drift_ks_bucketed",
    """
    WITH tagged AS (
      SELECT value,
             CAST(ts AS DATE) >= DATE '2024-01-16' AS recent
      FROM events WHERE value IS NOT NULL),
    b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM tagged),
    binned AS (
      SELECT recent,
             CASE WHEN hi > lo THEN
               LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 64.0)) AS INT),
                     63)
             ELSE 0 END AS bucket
      FROM tagged, b),
    d AS (
      SELECT bucket,
             SUM(CASE WHEN recent THEN 0 ELSE 1 END) AS n_ref,
             SUM(CASE WHEN recent THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bucket),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM d),
    steps AS (
      SELECT SUM(n_ref) OVER w AS c_ref,
             SUM(n_cur) OVER w AS c_cur
      FROM d WINDOW w AS (ORDER BY bucket))
    SELECT ROUND(1e-9 + MAX(ABS(c_ref * 1.0 / t_ref - c_cur * 1.0 / t_cur)),
                 6) AS ks_stat
    FROM steps, tot
    """,
    "Bucketed-CDF KS approximation (PSI's conditional-aggregate shape): "
    "64 equal-width buckets over [min, max], CDFs evaluated at bucket "
    "upper edges, max gap.",
)


@query(
    "lift_deciles",
    """
    WITH scored AS (
      SELECT value, (event_type = 'purchase') AS actual
      FROM events WHERE value IS NOT NULL),
    d AS (
      SELECT value, COUNT(*) AS c,
             SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS conv
      FROM scored GROUP BY value),
    tot AS (SELECT SUM(c) AS nn, SUM(conv) * 1.0 / SUM(c) AS rate FROM d),
    cum AS (SELECT value, c, conv,
                   SUM(c) OVER (ORDER BY value DESC) AS cum_c
            FROM d)
    SELECT CAST((10 * cum_c + nn - 1) // nn AS INT) AS decile,
           CAST(SUM(c) AS BIGINT) AS n,
           ROUND(1e-9 + SUM(conv) * 1.0 / SUM(c), 4) AS purchase_rate,
           ROUND(1e-9 + (SUM(conv) * 1.0 / SUM(c)) / rate, 4) AS lift
    FROM cum, tot GROUP BY 1, rate
    """,
)
def q_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift chart for 'value' as a purchase-propensity score:
    deciles by descending score, per-decile conversion rate over the
    base rate — the model-quality report every ranking model ships with.

    Deciles are cut at DISTINCT-SCORE granularity — decile(v) =
    ceil(10 * cum_count(v) / n) over descending score, exact integer
    arithmetic — so equal scores always land in one decile (the honest
    definition for a ranking metric: a model cannot order ties) and the
    result is reproducible.  Replaces the round-1 full-table NTILE
    (VERDICT.md): per-distinct-score aggregate, then
    ``global_running_sums``' distributed prefix sum for the cumulative
    count — range-partitioned windows + broadcast offsets, no
    single-partition sort anywhere in the plan."""
    ev = read_sf_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    scored = ev.select(
        "value", (F.col("event_type") == "purchase").alias("actual")
    )
    d = scored.groupBy("value").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("actual"), 1).otherwise(0)).alias("conv"),
    )
    tot = d.agg(
        F.sum("c").alias("nn"),
        (F.sum("conv") / F.sum("c")).alias("rate"),
    )
    cum = S.global_running_sums(d, [F.desc("value")], ["c"])
    decile = F.expr("CAST((10 * cum_c + nn - 1) DIV nn AS INT)").alias(
        "decile"
    )
    return (
        cum.join(F.broadcast(tot))
        .groupBy(decile, F.col("rate"))
        .agg(
            F.sum("c").alias("n"),
            r4(F.sum("conv") / F.sum("c")).alias("purchase_rate"),
            r4((F.sum("conv") / F.sum("c")) / F.col("rate")).alias("lift"),
        )
        .drop("rate")
    )


@query(
    "ab_test_zstat",
    """
    WITH assign AS (
      SELECT user_id,
             ((user_id % 2147483648) * 2654435761) % 4294967296
               < 2147483648 AS in_a,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    g AS (
      SELECT CASE WHEN in_a THEN 'A' ELSE 'B' END AS arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM assign GROUP BY CASE WHEN in_a THEN 'A' ELSE 'B' END),
    w AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS na,
             MAX(CASE WHEN arm = 'A' THEN conv END) AS ca,
             MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
             MAX(CASE WHEN arm = 'B' THEN conv END) AS cb
      FROM g),
    s AS (
      SELECT na, ca, nb, cb,
             ca * 1.0 / na AS pa, cb * 1.0 / nb AS pb,
             (ca + cb) * 1.0 / (na + nb) AS pp
      FROM w)
    SELECT na, CAST(ca AS BIGINT) AS conv_a,
           nb, CAST(cb AS BIGINT) AS conv_b,
           ROUND(1e-9 + pa, 4) AS rate_a,
           ROUND(1e-9 + pb, 4) AS rate_b,
           ROUND(1e-9 + (pa - pb)
                 / NULLIF(SQRT(pp * (1 - pp) * (1.0 / na + 1.0 / nb)), 0),
                 4) AS z_stat
    FROM s
    """,
)
def q_ab_test_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation primitive: deterministic 50/50 hash split of
    users (the portable unit hash, so assignment is reproducible and
    oracle-identical), per-user conversion flag, two-proportion pooled
    z-test between arms.  Everything is two aggregates; an A/A test on
    this data should hover near z=0 — the engine-level sanity check
    every experimentation platform runs before trusting its bucketing."""
    ev = read_sf_table(spark, sf_dir, "events")
    in_a = (
        (F.col("user_id") % F.lit(2147483648)) * F.lit(2654435761)
        % F.lit(4294967296)
    ) < F.lit(2147483648)
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).withColumn("in_a", in_a)
    g = assign.groupBy(
        F.when(F.col("in_a"), "A").otherwise("B").alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    w = g.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("cb"),
    )
    pa = F.col("ca") / F.col("na")
    pb = F.col("cb") / F.col("nb")
    pp = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb"))
    z = (pa - pb) / F.nullif(
        F.sqrt(pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb"))),
        F.lit(0.0),
    )
    return w.select(
        "na",
        F.col("ca").alias("conv_a"),
        "nb",
        F.col("cb").alias("conv_b"),
        r4(pa).alias("rate_a"),
        r4(pb).alias("rate_b"),
        r4(z).alias("z_stat"),
    )


@query(
    "survival_km_repeat_purchase",
    """
    WITH p AS (
      SELECT user_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'),
    horizon AS (SELECT MAX(ts) AS hi FROM events),
    spans AS (
      SELECT f.user_id,
             CAST(FLOOR((EPOCH(COALESCE(s.ts, h.hi)) - EPOCH(f.ts))
                        / 86400.0) AS INT) AS dur_d,
             CASE WHEN s.ts IS NULL THEN 0 ELSE 1 END AS ev
      FROM (SELECT user_id, ts FROM p WHERE rn = 1) f
      LEFT JOIN (SELECT user_id, ts FROM p WHERE rn = 2) s
        USING (user_id)
      CROSS JOIN horizon h),
    agg AS (
      SELECT dur_d, COUNT(*) AS leaving, SUM(ev) AS deaths
      FROM spans GROUP BY dur_d),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spans),
    risk AS (
      SELECT dur_d, deaths,
             n - COALESCE(SUM(leaving) OVER (ORDER BY dur_d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM agg, t),
    km AS (
      SELECT dur_d, deaths, at_risk,
             EXP(SUM(LN(GREATEST(1.0 - deaths * 1.0 / at_risk, 1e-300)))
                 OVER (ORDER BY dur_d)) AS s
      FROM risk)
    SELECT dur_d AS day,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(deaths AS BIGINT) AS deaths,
           ROUND(1e-9 + s, 6) AS survival
    FROM km WHERE deaths > 0
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of "time to repeat purchase" (first→second
    purchase; users without a second purchase are right-censored at the
    corpus horizon).  The product-limit estimator runs as windows over
    the per-DAY aggregate — risk set from a running sum, the cumulative
    product as exp(Σ ln), floored at 1e-300 so a fully-depleted risk
    set stays finite identically on both engines.  The windows order a
    frame of distinct durations (≤ horizon days), never raw events, so
    the single-partition sort is bounded regardless of corpus size."""
    ev = read_sf_table(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    p = (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(wp))
    )
    hi = ev.agg(F.max("ts").alias("hi"))
    f = p.where(F.col("rn") == 1).select("user_id", F.col("ts").alias("t0"))
    s = p.where(F.col("rn") == 2).select("user_id", F.col("ts").alias("t1"))
    from advanced_etl_pipelines_spark.functions.features import epoch_seconds

    spans = (
        f.join(s, "user_id", "left")
        .crossJoin(F.broadcast(hi))
        .select(
            F.floor(
                (
                    epoch_seconds(F.coalesce("t1", "hi"))
                    - epoch_seconds("t0")
                )
                / 86400.0
            )
            .cast("int")
            .alias("dur_d"),
            F.when(F.col("t1").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    agg = spans.groupBy("dur_d").agg(
        F.count(F.lit(1)).alias("leaving"), F.sum("ev").alias("deaths")
    )
    n = spans.count()
    wprev = Window.orderBy("dur_d").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wcum = Window.orderBy("dur_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = F.lit(n) - F.coalesce(
        F.sum("leaving").over(wprev), F.lit(0)
    )
    factor = F.greatest(
        F.lit(1.0) - F.col("deaths") / at_risk, F.lit(1e-300)
    )
    km = agg.withColumn("at_risk", at_risk).withColumn(
        "s", F.exp(F.sum(F.log(factor)).over(wcum))
    )
    return km.where(F.col("deaths") > 0).select(
        F.col("dur_d").alias("day"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.col("deaths").cast("long").alias("deaths"),
        F.round(F.lit(1e-9) + F.col("s"), 6).alias("survival"),
    )


@query(
    "community_label_propagation",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey),
    l0 AS (
      SELECT DISTINCT s AS node, s AS label FROM e),
    c1 AS (
      SELECT e.d, l0.label, COUNT(*) AS cnt
      FROM e JOIN l0 ON e.s = l0.node GROUP BY e.d, l0.label),
    n1 AS (
      SELECT d AS node, label FROM (
        SELECT d, label,
               ROW_NUMBER() OVER (PARTITION BY d
                   ORDER BY cnt DESC, label ASC) AS rn
        FROM c1) WHERE rn = 1),
    l1 AS (
      SELECT l0.node, COALESCE(n1.label, l0.label) AS label
      FROM l0 LEFT JOIN n1 ON l0.node = n1.node),
    c2 AS (
      SELECT e.d, l1.label, COUNT(*) AS cnt
      FROM e JOIN l1 ON e.s = l1.node GROUP BY e.d, l1.label),
    n2 AS (
      SELECT d AS node, label FROM (
        SELECT d, label,
               ROW_NUMBER() OVER (PARTITION BY d
                   ORDER BY cnt DESC, label ASC) AS rn
        FROM c2) WHERE rn = 1),
    l2 AS (
      SELECT l1.node, COALESCE(n2.label, l1.label) AS label
      FROM l1 LEFT JOIN n2 ON l1.node = n2.node)
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS size
    FROM l2 GROUP BY label
    ORDER BY size DESC, label ASC LIMIT 10
    """,
)
def q_community_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection by deterministic synchronous label
    propagation (operators/graph.py label_propagation — RAK 2007 with
    min-label ties) over the part co-purchase graph, 2 rounds; output
    the 10 largest communities.  The mesoscale complement of the graph
    family: pagerank ranks nodes, components find connectivity, this
    groups the co-purchase neighborhood structure.

    The DuckDB oracle replays both synchronous rounds as chained CTEs
    (the same fixed-iteration-unroll pattern as pagerank_copurchase) —
    integer labels and counts, so the comparison is exact, no
    rounding.  Every node of the symmetric co-purchase graph appears
    as a destination, so the SQL l0 seed over edge sources is the full
    node set."""
    from advanced_etl_pipelines_spark.operators.graph import (
        label_propagation,
    )
    from advanced_etl_pipelines_spark.operators.scale import top_k_global

    li = read_sf_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("s"),
            F.col("b.l_partkey").alias("d"),
        )
    )
    # the self-join emits both (a,b) and (b,a) for every co-purchase
    # pair, so the edge list is symmetric by construction — skip the
    # operator's internal symmetrize rebuild (round-5 VERDICT item 2)
    labels = label_propagation(edges, "s", "d", iters=2,
                               assume_symmetric=True)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return top_k_global(
        sizes, [F.desc("size"), F.asc("label")], 10
    ).select(F.col("label").cast("bigint").alias("label"), "size")


sql_query(
    "theilsen_slope_by_nation",
    """
    WITH m AS (
      SELECT n.n_name,
             (EXTRACT(YEAR FROM o.o_orderdate) - 1992) * 12
               + EXTRACT(MONTH FROM o.o_orderdate) AS mi,
             SUM(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, mi),
    p AS (
      SELECT a.n_name,
             (b.rev - a.rev) / (b.mi - a.mi) AS slope
      FROM m a JOIN m b
        ON a.n_name = b.n_name AND a.mi < b.mi),
    ts AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             ROUND(1e-9 + MEDIAN(slope), 4) AS theil_sen_slope
      FROM p GROUP BY n_name),
    ols AS (
      SELECT n_name, ROUND(1e-9 + REGR_SLOPE(rev, mi), 4) AS ols_slope
      FROM m GROUP BY n_name)
    SELECT ts.n_name, ts.n_pairs, ts.theil_sen_slope, ols.ols_slope
    FROM ts JOIN ols ON ts.n_name = ols.n_name
    ORDER BY ts.n_name
    """,
    "Theil–Sen robust trend estimator (Theil 1950 / Sen 1968): per nation, "
    "the MEDIAN of all pairwise slopes between monthly revenue points — the "
    "breakdown-resistant complement of the OLS trend (trend_regression_daily "
    "/ regr_slope_by_nation), reported side by side with the OLS slope so "
    "outlier months are visible as the gap between the two.",
)


sql_query(
    "pareto_frontier_parts",
    """
    WITH cand AS (
      SELECT p_size AS size, MIN(p_retailprice) AS mp
      FROM part GROUP BY p_size),
    fr AS (
      SELECT size, mp FROM cand a
      WHERE NOT EXISTS (
        SELECT 1 FROM cand b
        WHERE b.size > a.size AND b.mp <= a.mp))
    SELECT CAST(fr.size AS INTEGER) AS p_size,
           ROUND(1e-9 + fr.mp, 2) AS frontier_price,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM fr JOIN part
      ON part.p_size = fr.size AND part.p_retailprice = fr.mp
    GROUP BY fr.size, fr.mp
    ORDER BY p_size
    """,
    "Skyline / Pareto-frontier query (Borzsony, Kossmann & Stocker, "
    "ICDE'01): the parts not dominated in (MINIMIZE retail price, MAXIMIZE "
    "size) — no other part is at-least-as-good on both axes and strictly "
    "better on one.",
)


sql_query(
    "lateral_top3_orders_per_nation",
    """
    SELECT n.n_name, t.o_orderkey, t.o_totalprice
    FROM nation n,
    LATERAL (
      SELECT o.o_orderkey, o.o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 3) t
    ORDER BY n.n_name ASC, t.o_totalprice DESC, t.o_orderkey ASC
    """,
    "LATERAL correlated subquery (SQL:1999; Spark 4 supports it natively): "
    "for each nation, the subquery re-executes with that nation's key in "
    "scope — top-3 orders by value per nation, written the declarative way "
    "instead of the window-rank idiom (window_topk_per_group is the API "
    "twin; this pins the SQL surface).",
)


sql_query(
    "mann_kendall_trend",
    """
    WITH m AS (
      SELECT n.n_name,
             (EXTRACT(YEAR FROM o.o_orderdate) - 1992) * 12
               + EXTRACT(MONTH FROM o.o_orderdate) AS mi,
             SUM(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, mi),
    p AS (
      SELECT a.n_name,
             CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM m a JOIN m b ON a.n_name = b.n_name AND a.mi < b.mi),
    s AS (
      SELECT n_name, SUM(sgn) AS s, COUNT(*) AS n_pairs FROM p
      GROUP BY n_name),
    nm AS (SELECT n_name, COUNT(*) AS n FROM m GROUP BY n_name)
    SELECT s.n_name,
           CAST(nm.n AS BIGINT) AS n_months,
           CAST(s.s AS BIGINT) AS kendall_s,
           ROUND(1e-9 + s.s * 1.0 / s.n_pairs, 4) AS kendall_tau,
           ROUND(1e-9 +
             (CASE WHEN s.s > 0 THEN s.s - 1
                   WHEN s.s < 0 THEN s.s + 1 ELSE 0 END)
             / SQRT(nm.n * (nm.n - 1.0) * (2 * nm.n + 5.0) / 18.0), 4)
             AS mk_z
    FROM s JOIN nm ON s.n_name = nm.n_name
    ORDER BY s.n_name
    """,
    "Mann-Kendall monotonic-trend test (Mann 1945; Kendall 1975) on the "
    "monthly revenue series per nation: S = sum of pairwise signs, tau = S / "
    "n_pairs, and the continuity-corrected normal statistic z = (S -/+ "
    "1)/sqrt(n(n-1)(2n+5)/18) — the NONPARAMETRIC trend detector that pairs "
    "with theilsen_slope_by_nation (same pair frame: MK answers IS there a "
    "monotone trend, Theil-Sen answers how steep).",
)


@query(
    "conformal_interval_coverage",
    """
    WITH j AS (
      SELECT p.p_brand, l.l_extendedprice AS y,
             (((l.l_orderkey * 7 + l.l_linenumber) % 2147483648)
              * 2654435761) % 4294967296 / 4294967296.0 AS u
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    mu AS (
      SELECT p_brand, AVG(y) AS pred FROM j WHERE u < 0.5
      GROUP BY p_brand),
    cal AS (
      SELECT ABS(j.y - mu.pred) AS r
      FROM j JOIN mu ON j.p_brand = mu.p_brand WHERE j.u < 0.5),
    q AS (
      SELECT ROUND(1e-9 + QUANTILE_CONT(r, 0.9), 4) AS q90,
             COUNT(*) AS n_cal
      FROM cal),
    test AS (
      SELECT CASE WHEN ROUND(1e-9 + ABS(j.y - mu.pred), 4) <= q.q90
                  THEN 1 ELSE 0 END AS hit
      FROM j JOIN mu ON j.p_brand = mu.p_brand CROSS JOIN q
      WHERE j.u >= 0.5)
    SELECT CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           q.q90,
           ROUND(1e-9 + AVG(hit), 4) AS coverage
    FROM test CROSS JOIN q
    GROUP BY q.n_cal, q.q90
    """,
)
def q_conformal_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al. 2005; the
    distribution-free UQ recipe): a per-brand mean-price predictor is
    fit on the calibration half (deterministic unit-hash split), the
    90th-percentile absolute residual becomes the interval half-width,
    and the held-out half measures empirical coverage — which conformal
    theory guarantees to land near 90% REGARDLESS of how bad the
    predictor is.  The model-eval primitive that tells a pipeline how
    wide its error bars really are.

    Shape: one join + two hash aggregates (brand means, residual
    quantile) + one scan of the test half with a broadcast scalar —
    no sort, no window; the quantile interpolates identically in both
    engines (same (n-1)p convention pinned by the Huber/Theil-Sen
    medians), and the hit test compares 4-decimal-rounded residuals
    against the 4-decimal quantile so float noise cannot flip a
    boundary row."""
    from advanced_etl_pipelines_spark.operators.sampling import unit_hash

    li = read_sf_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    part = read_sf_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.col("l_extendedprice").alias("y"),
        unit_hash(
            F.col("l_orderkey") * 7 + F.col("l_linenumber")
        ).alias("u"),
    )
    cal_half = j.where(F.col("u") < 0.5)
    mu = cal_half.groupBy("p_brand").agg(F.avg("y").alias("pred"))
    cal = cal_half.join(F.broadcast(mu), "p_brand").select(
        F.abs(F.col("y") - F.col("pred")).alias("r")
    )
    q = cal.agg(
        r4(F.expr("percentile(r, 0.9)")).alias("q90"),
        F.count(F.lit(1)).alias("n_cal"),
    )
    test = (
        j.where(F.col("u") >= 0.5)
        .join(F.broadcast(mu), "p_brand")
        .crossJoin(F.broadcast(q))
        .select(
            "n_cal",
            "q90",
            F.when(
                F.round(
                    F.lit(1e-9) + F.abs(F.col("y") - F.col("pred")), 4
                )
                <= F.col("q90"),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    return test.groupBy("n_cal", "q90").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        r4(F.avg("hit")).alias("coverage"),
    ).select(
        F.col("n_cal").cast("bigint").alias("n_cal"),
        "n_test",
        "q90",
        "coverage",
    )


@query(
    "periodogram_fixed_freqs",
    """
    WITH daily AS (
      SELECT DATEDIFF('day', DATE '1992-01-01',
                      CAST(o_orderdate AS DATE)) AS t,
             SUM(o_totalprice) AS x
      FROM orders GROUP BY t),
    g AS (SELECT AVG(x) AS mu, COUNT(*) AS n FROM daily),
    freqs AS (SELECT * FROM (VALUES (7.0), (30.4375), (91.3125),
                                    (365.25)) AS f(period)),
    terms AS (
      SELECT f.period,
             SUM((d.x - g.mu) * COS(2 * PI() * d.t / f.period)) AS c,
             SUM((d.x - g.mu) * SIN(2 * PI() * d.t / f.period)) AS s,
             MAX(g.n) AS n
      FROM daily d CROSS JOIN g CROSS JOIN freqs f
      GROUP BY f.period)
    SELECT period,
           CAST(n AS BIGINT) AS n_days,
           ROUND(1e-9 + 2.0 * (c * c + s * s) / n / 1e12, 4)
             AS power_t
    FROM terms ORDER BY period
    """,
)
def q_periodogram_fixed_freqs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-frequency periodogram (the Goertzel/single-bin DFT form of
    Schuster 1898): spectral power of the mean-centered daily revenue
    series at the four candidate periods a retail pipeline actually cares
    about — weekly, monthly, quarterly, yearly — P(f) = 2(C² + S²)/n
    with C,S the cos/sin-weighted sums.  The spectral complement of the
    time-domain family (autocorrelation says "some periodicity",
    Holt-Winters ASSUMES one; this measures candidate frequencies
    directly, no FFT machinery).

    Scale shape: a full FFT needs the series gathered and
    power-of-two padded; probing k KNOWN frequencies needs only k
    cos/sin-weighted SUMS — one hash aggregate over the (day x 4
    frequency) cross, map-side expressible at any scale (the daily
    frame is calendar-bounded anyway).  Power is reported in 1e12
    units (revenue² scale) with 4-decimal rounding; cos/sin ULP
    differences between engines' libm are ~1e-16 relative and vanish
    under it."""
    o = read_sf_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff("o_orderdate", F.lit("1992-01-01")).alias("t")
    ).agg(F.sum("o_totalprice").alias("x"))
    g = daily.agg(
        F.avg("x").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    freqs = o.sparkSession.createDataFrame(
        [(7.0,), (30.4375,), (91.3125,), (365.25,)], "period double"
    )
    two_pi = 2 * 3.141592653589793
    terms = (
        daily.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(freqs))
        .groupBy("period")
        .agg(
            F.sum(
                (F.col("x") - F.col("mu"))
                * F.cos(F.lit(two_pi) * F.col("t") / F.col("period"))
            ).alias("c"),
            F.sum(
                (F.col("x") - F.col("mu"))
                * F.sin(F.lit(two_pi) * F.col("t") / F.col("period"))
            ).alias("s"),
            F.max("n").alias("n"),
        )
    )
    return terms.select(
        "period",
        F.col("n").cast("bigint").alias("n_days"),
        r4(
            2.0
            * (F.col("c") * F.col("c") + F.col("s") * F.col("s"))
            / F.col("n")
            / 1e12
        ).alias("power_t"),
    ).orderBy("period")


sql_query(
    "price_elasticity_loglog",
    """
    WITH pts AS (
      SELECT p.p_brand,
             LN(l.l_extendedprice / l.l_quantity) AS lp,
             LN(l.l_quantity) AS lq
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_quantity > 0)
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(1e-9 + REGR_SLOPE(lq, lp), 4) AS elasticity,
           ROUND(1e-9 + REGR_R2(lq, lp), 4) AS r2
    FROM pts GROUP BY p_brand ORDER BY p_brand
    """,
    "Own-price demand elasticity by the log-log regression (the econometric "
    "workhorse: in ln q = a + b ln p, the slope IS the elasticity — percent "
    "quantity change per percent price change), fit per brand over order "
    "lines with unit price = extended/qty.",
)


@query(
    "newsvendor_stock_levels",
    """
    WITH wk AS (
      SELECT p.p_brand,
             DATEDIFF('day', DATE '1992-01-01',
                      CAST(l.l_shipdate AS DATE)) // 7 AS w,
             SUM(l.l_quantity) AS demand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, w)
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_weeks,
           ROUND(1e-9 + AVG(demand), 4) AS mean_demand,
           ROUND(1e-9 + QUANTILE_CONT(demand, 0.8), 4) AS stock_q80,
           ROUND(1e-9 + QUANTILE_CONT(demand, 0.95), 4) AS stock_q95
    FROM wk GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_newsvendor_stock_levels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newsvendor stocking levels (Edgeworth 1888; the single-period
    inventory optimum): the profit-maximizing stock is the demand
    QUANTILE at the critical ratio cu/(cu+co) — reported at 0.8 (cheap
    understock) and 0.95 (expensive understock) per brand over weekly
    demand, beside the mean that a naive plan would stock.  The
    decision-theoretic companion to croston_intermittent_demand's
    point forecast: Croston says what demand WILL be, this says what
    to STOCK given asymmetric costs.

    One weekly rollup (the only corpus-scale aggregate), then exact
    interpolated quantiles per brand over calendar-bounded groups —
    the same (n-1)p convention pinned across both engines by the
    Huber/Theil-Sen medians."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    part = read_sf_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    wk = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            F.floor(
                F.datediff("l_shipdate", F.lit("1992-01-01")) / 7
            ).alias("w"),
        )
        .agg(F.sum("l_quantity").alias("demand"))
    )
    return (
        wk.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
            r4(F.avg("demand")).alias("mean_demand"),
            r4(F.expr("percentile(demand, 0.8)")).alias("stock_q80"),
            r4(F.expr("percentile(demand, 0.95)")).alias("stock_q95"),
        )
        .orderBy("p_brand")
    )


@query(
    "personalized_pagerank_recs",
    """
    WITH e AS MATERIALIZED (
      SELECT a.l_partkey AS s, b.l_partkey AS d, COUNT(*) AS cnt
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
      GROUP BY s, d),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
    seeds AS (
      SELECT l_partkey AS node FROM lineitem
      GROUP BY l_partkey
      ORDER BY COUNT(*) DESC, l_partkey ASC LIMIT 2),
    sg AS (SELECT seeds.node FROM seeds JOIN nodes USING (node)),
    kk AS (SELECT COUNT(*) AS k FROM sg),
    r0 AS MATERIALIZED (
      SELECT nodes.node,
             CASE WHEN sg.node IS NOT NULL THEN 1.0 / kk.k
                  ELSE 0.0 END AS pr
      FROM nodes CROSS JOIN kk
      LEFT JOIN sg ON nodes.node = sg.node),
    deg AS (SELECT s, SUM(cnt) AS deg FROM e GROUP BY s),
    ew AS MATERIALIZED (SELECT e.s, e.d, e.cnt * 1.0 / deg.deg AS w
           FROM e JOIN deg ON e.s = deg.s),
    i1 AS (SELECT ew.d AS node, SUM(r0.pr * ew.w) AS inflow
           FROM ew JOIN r0 ON ew.s = r0.node GROUP BY ew.d),
    r1 AS (SELECT r0.node,
                  0.15 * r0.pr + 0.85 * COALESCE(i1.inflow, 0) AS pr
           FROM r0 LEFT JOIN i1 ON r0.node = i1.node),
    i2 AS (SELECT ew.d AS node, SUM(r1.pr * ew.w) AS inflow
           FROM ew JOIN r1 ON ew.s = r1.node GROUP BY ew.d),
    r2 AS (SELECT r0.node,
                  0.15 * r0.pr + 0.85 * COALESCE(i2.inflow, 0) AS pr
           FROM r0 LEFT JOIN i2 ON r0.node = i2.node),
    i3 AS (SELECT ew.d AS node, SUM(r2.pr * ew.w) AS inflow
           FROM ew JOIN r2 ON ew.s = r2.node GROUP BY ew.d),
    r3 AS (SELECT r0.node,
                  0.15 * r0.pr + 0.85 * COALESCE(i3.inflow, 0) AS pr
           FROM r0 LEFT JOIN i3 ON r0.node = i3.node)
    SELECT r3.node, ROUND(1e-9 + r3.pr * 1e6, 4) AS ppr_ppm
    FROM r3
    WHERE r3.node NOT IN (SELECT node FROM sg)
    ORDER BY r3.pr DESC, r3.node ASC LIMIT 10
    """,
)
def q_personalized_pagerank_recs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank recommendations (Jeh & Widom 2003 —
    random walk with restart, the production co-purchase recommender
    at Pinterest/Twitter scale): teleport mass restarts at the 2
    best-selling seed parts instead of uniformly, so rank measures
    graph PROXIMITY TO THE SEEDS; output the top-10 non-seed parts —
    "customers who bought the bestsellers also buy these".  Uses the
    ``seeds=`` path of operators/graph.py pagerank composed with the
    ``weight=`` path (pre-aggregated co-purchase counts).

    Same iterate-join cost model as pagerank_copurchase — per round
    one broadcast join + aggregate over the weighted distinct-pair
    edge list — plus a broadcast seed lookup.  Seeds are data-derived
    (top-2 by line count, partkey ties) so the query is
    scale-portable; the DuckDB oracle unrolls the 3 seeded iterations
    with the identical 0.15*r0 + 0.85*inflow recurrence."""
    from advanced_etl_pipelines_spark.operators.graph import pagerank
    from advanced_etl_pipelines_spark.operators.scale import top_k_global

    li = read_sf_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("s"),
            F.col("b.l_partkey").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pc = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    # persist the 2-row seed frame: it enters the plan twice (the
    # teleport setup broadcast inside pagerank AND the final non-seed
    # anti-join) and each BroadcastExchange would otherwise re-run the
    # lineitem count + two-level rank that derives it (round-11)
    seeds = (
        top_k_global(pc, [F.desc("c"), F.asc("l_partkey")], 2)
        .select(F.col("l_partkey").alias("node"))
        .transform(tracked_persist)
    )
    ranks = pagerank(
        e, "s", "d", iters=3, weight="cnt", seeds=seeds
    )
    recs = ranks.join(F.broadcast(seeds), "node", "left_anti")
    return (
        top_k_global(recs, [F.desc("rank"), F.asc("node")], 10)
        .select("node", r4(F.col("rank") * 1e6).alias("ppr_ppm"))
    )


sql_query(
    "forecast_backtest_daily",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, SUM(o_totalprice) AS x
      FROM orders GROUP BY d),
    feat AS (
      SELECT d, x,
             LAG(x, 1) OVER (ORDER BY d) AS naive,
             AVG(x) OVER (ORDER BY d
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS ma7,
             LAG(x, 7) OVER (ORDER BY d) AS snaive,
             ROW_NUMBER() OVER (ORDER BY d) AS rn
      FROM daily)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(1e-9 + AVG(ABS(x - naive)) / 1e3, 4) AS mae_naive_k,
           ROUND(1e-9 + AVG(ABS(x - ma7)) / 1e3, 4) AS mae_ma7_k,
           ROUND(1e-9 + AVG(ABS(x - snaive)) / 1e3, 4) AS mae_snaive_k,
           ROUND(1e-9 + AVG(ABS(x - ma7)) / AVG(ABS(x - naive)), 4)
             AS mase_ma7
    FROM feat WHERE rn > 7
    """,
    "Walk-forward forecast backtest (the Hyndman-style eval every "
    "forecasting chapter opens with): one-step MAE of three baseline "
    "forecasters on daily revenue — naive (yesterday), 7-day trailing "
    "mean, seasonal-naive (same weekday last week) — plus MASE (MA7 "
    "error scaled by the naive error, the scale-free skill score; < 1 "
    "means the model beats persistence).",
)
