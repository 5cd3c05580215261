"""Query registry: every SURVEY.md §2 operator as a (Spark query, SQL oracle)
pair over the driver testdata tables.

Conventions that make the driver's order-insensitive value-hash stable:

* Every float aggregate is ``round(x, 4)`` on BOTH sides — Spark's partial
  aggregation order and DuckDB's accumulation differ in the last bits of a
  double; 4 decimals is far above that noise floor while far below any
  semantic difference.
* Sums of integer columns are cast to BIGINT in the oracle (DuckDB sums
  BIGINT into HUGEINT, Spark into LONG).
* Timestamps in output are formatted to strings (``yyyy-MM-dd HH:mm:ss``)
  to sidestep timezone-object representation differences.
* Any LIMIT/top-k has a full deterministic ORDER BY (value, then key).
* Column aliases match exactly between the DataFrame code and the SQL.

Scale notes are inline per query: which side broadcasts, where the shuffle
is, why the plan survives 100 TB.

A query is registered one of two ways.  ``@query(name, oracle)`` decorates
a DataFrame body, for plans SQL cannot express or runs slower as SQL;
``sql_query(name, text, doc)`` registers a query whose SQL text runs
unchanged on both engines.  For a SQL entry the text is both the Spark
plan and the DuckDB oracle, so the conventions above bind a single text:
a rounding or ordering slip changes both answers alike and the oracle
gate cannot see it.  ``tests/test_sql_entries.py`` catches it instead,
by pinning each SQL entry to the answer digests of the DataFrame body it
replaced.

A SQL entry's text uses spellings both engines parse alike.  Where
DuckDB has a shorthand Spark lacks, the entry spells it the portable
way:

=====================================  ==========================================================
DuckDB-only                            portable spelling
=====================================  ==========================================================
``strftime(x, '%Y-%m-%d')``            ``CAST(CAST(x AS DATE) AS STRING)``
``strftime(x, '%Y-%m')``               ``SUBSTR(CAST(CAST(x AS DATE) AS STRING), 1, 7)``
``strftime(x, '%Y-%m-%d %H:%M:%S')``   ``SUBSTR(CAST(CAST(x AS TIMESTAMP) AS STRING), 1, 19)``
``quantile_cont(x, p)``, scalar ``p``  ``percentile_cont(p) WITHIN GROUP (ORDER BY x)``
``a // b``                             ``CAST(FLOOR(a / b) AS BIGINT)`` (exact for 0 <= a, b < 2^53)
``CAST(x AS VARCHAR)``                 ``CAST(x AS STRING)``
``name AS MATERIALIZED (…)``           ``name AS (…)`` (a DuckDB speed hint only)
=====================================  ==========================================================
"""

from __future__ import annotations

import functools
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from advanced_etl_pipelines_spark.functions.features import epoch_seconds
from advanced_etl_pipelines_spark.operators import relational as R
from advanced_etl_pipelines_spark.operators import scale as S
from advanced_etl_pipelines_spark.session import configure_existing
from advanced_etl_pipelines_spark.sources.readers import read_sf_table, sql

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}
SF_PINNED_ORACLES: set[str] = set()
# entries whose plan is their oracle text (``sql_query``)
SQL_QUERIES: set[str] = set()


def query(
    name: str, oracle: str | None = None, sf_pinned: bool = False
):
    """Register a query written as a DataFrame body and (optionally) its
    DuckDB oracle SQL.

    The registered callable applies the runtime-settable session config
    once, then builds the body: the driver invokes ``queries()[name]``
    with its OWN (unconfigured) session, and a non-UTC session timezone
    would shift every hour()/window() result relative to the DuckDB
    oracle.

    ``sf_pinned=True`` marks an oracle whose SQL encodes an
    expected-output frame computed at the driver's sf0.01 (a VALUES
    literal for a deterministic-but-not-SQL-expressible computation,
    e.g. an eigendecomposition).  The driver gate always runs at
    sf0.01, where such oracles are exact; scale-gate runners
    (scripts/check_oracle.py at sf1) must fall back to a rows-only
    check for them — SF_PINNED_ORACLES is that list.
    """

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_existing(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = run
        if oracle is not None:
            ORACLE_SQL[name] = oracle
            if sf_pinned:
                SF_PINNED_ORACLES.add(name)
        return run

    return deco


def sql_query(name: str, text: str, doc: str) -> None:
    """Register a query written as SQL: ``text`` is both its Spark plan
    (``readers.sql``) and its DuckDB oracle, so the entry has one
    implementation.  ``doc`` is its one-sentence description, with the
    reference citation where it has one."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return sql(spark, sf_dir, text)

    run.__name__ = run.__qualname__ = f"q_{name}"
    run.__doc__ = doc
    # the registering module names the query's family (QUERIES.md)
    run.__module__ = sys._getframe(1).f_globals["__name__"]
    QUERIES[name] = run
    ORACLE_SQL[name] = text
    SQL_QUERIES.add(name)


# Rounding convention (see module docstring): an epsilon far above double
# accumulation noise (~1e-13 rel) but far below the rounding step pushes
# exact-decimal ties (e.g. avg=70.47625) off the half boundary, so Spark's
# HALF_UP and DuckDB's HALF_EVEN agree.  Sums get 2 decimals: their
# magnitude (1e8+ at sf0.1) makes 4-decimal margins comparable to the
# engines' accumulation-order noise.
EPS = 1e-9


def r4(c) -> F.Column:
    return F.round(c + F.lit(EPS), 4)


def r2(c) -> F.Column:
    return F.round(c + F.lit(EPS), 2)


# ---------------------------------------------------------------------------
# Reference-core operators (SURVEY.md §2.3 A*, §2.2 P*, §2.4 F*) on testdata
# ---------------------------------------------------------------------------


sql_query(
    "agg_dedup_mean",
    """
    SELECT user_id, event_type,
           ROUND(1e-9 + AVG(value), 4) AS avg_value,
           COUNT(*) AS cnt
    FROM events GROUP BY user_id, event_type
    """,
    "A1 group-by mean dedup (`ETL_Multi_Lvl_API/transform.py:259-262`).",
)


sql_query(
    "pivot_avg_wide",
    """
    SELECT user_id,
           ROUND(1e-9 + AVG(value) FILTER (WHERE event_type = 'click'), 4) AS click,
           ROUND(1e-9 + AVG(value) FILTER (WHERE event_type = 'error'), 4) AS error,
           ROUND(1e-9 + AVG(value) FILTER (WHERE event_type = 'purchase'), 4) AS purchase,
           ROUND(1e-9 + AVG(value) FILTER (WHERE event_type = 'signup'), 4) AS signup,
           ROUND(1e-9 + AVG(value) FILTER (WHERE event_type = 'view'), 4) AS view
    FROM events GROUP BY user_id
    """,
    "A2 long->wide pivot with mean "
    "(`ETL_Multi_Lvl_API/transform.py:196-202`).",
)


sql_query(
    "crosstab_pct",
    """
    WITH counts AS (
      SELECT o_orderpriority,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
             COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
             COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, f_cnt, o_cnt, p_cnt,
           f_cnt + o_cnt + p_cnt AS total,
           ROUND(1e-9 + f_cnt * 100.0 / (f_cnt + o_cnt + p_cnt), 4) AS pct_f,
           ROUND(1e-9 + o_cnt * 100.0 / (f_cnt + o_cnt + p_cnt), 4) AS pct_o,
           ROUND(1e-9 + p_cnt * 100.0 / (f_cnt + o_cnt + p_cnt), 4) AS pct_p
    FROM counts
    """,
    "A3 crosstab with totals/pcts "
    "(`ETL_Multi_Lvl_API/etl_analysis.py:230-245`).",
)


sql_query(
    "argmax_group_avg",
    """
    SELECT c_mktsegment, ROUND(1e-9 + AVG(c_acctbal), 4) AS avg_acctbal
    FROM customer GROUP BY c_mktsegment
    ORDER BY AVG(c_acctbal) DESC, c_mktsegment ASC LIMIT 1
    """,
    "A4/A5 argmax over group aggregate "
    "(`ETL_Multi_Lvl_API/etl_analysis.py:171-190`).",
)


sql_query(
    "argmax_hour_of_day",
    """
    SELECT EXTRACT(hour FROM ts) AS hour_of_day, ROUND(1e-9 + AVG(value), 4) AS avg_value
    FROM events GROUP BY 1 ORDER BY AVG(value) DESC, 1 ASC LIMIT 1
    """,
    "A6 worst hour-of-day (`ETL_Multi_Lvl_API/etl_analysis.py:201-215`).",
)


sql_query(
    "value_counts_pct",
    """
    SELECT l_returnflag, COUNT(*) AS cnt,
           ROUND(1e-9 + COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 4) AS pct
    FROM lineitem GROUP BY l_returnflag
    """,
    "A7 value-counts -> pct (`ETL_Multi_Lvl_API/etl_analysis.py:193-198`).",
)


sql_query(
    "global_summary",
    """
    SELECT COUNT(*) AS rows,
           SUBSTR(CAST(CAST(MIN(ts) AS TIMESTAMP) AS STRING), 1, 19) AS time_min,
           SUBSTR(CAST(CAST(MAX(ts) AS TIMESTAMP) AS STRING), 1, 19) AS time_max,
           ROUND(1e-9 + AVG(value), 4) AS value_mean
    FROM events
    """,
    "A8 one-row global summary "
    "(`ETL_Weather_API/etl_analysis.py:107-114`).",
)


sql_query(
    "group_mean_date_hour",
    """
    SELECT CAST(ts AS DATE) AS date, EXTRACT(hour FROM ts) AS hour,
           ROUND(1e-9 + AVG(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    "A9 hourly-avg analytics (`ETL_Weather_API/etl_analysis.py:126-130`).",
)


sql_query(
    "group_mean_daily",
    """
    SELECT CAST(ts AS DATE) AS date, ROUND(1e-9 + AVG(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
    "A10 daily mean (`ETL_Weather_API/etl_analysis.py:144-146`).",
)


sql_query(
    "multi_col_grouped_mean",
    """
    SELECT l_returnflag,
           ROUND(1e-9 + AVG(l_quantity), 4) AS avg_qty,
           ROUND(1e-9 + AVG(l_extendedprice), 4) AS avg_price,
           ROUND(1e-9 + AVG(l_discount), 4) AS avg_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    "A11 multi-column grouped mean "
    "(`ETL_Multi_Lvl_API/etl_analysis.py:260`).",
)


sql_query(
    "top_n_by_count",
    """
    SELECT user_id, COUNT(*) AS cnt FROM events
    GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 6
    """,
    "A12 top-6 by row count (`ETL_Multi_Lvl_API/etl_analysis.py:304`).",
)


@query(
    "resample_hourly",
    """
    SELECT event_type,
           STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           ROUND(1e-9 + AVG(value), 4) AS avg_value, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def q_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 hourly resample via event-time window
    (`ETL_Multi_Lvl_API/etl_analysis.py:308-320`).  One grouped pass for all
    series (the reference loops per city in Python)."""
    ev = read_sf_table(spark, sf_dir, "events")
    out = R.resample_avg(ev, "ts", "1 hour", ["event_type"], "value")
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        r4(F.col("avg_value")).alias("avg_value"),
        "cnt",
    )


sql_query(
    "histogram_40",
    """
    WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
               FROM lineitem)
    SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 40.0)) AS INT),
                 39) AS bucket,
           COUNT(*) AS cnt
    FROM lineitem, b GROUP BY 1
    """,
    "A14 equal-width histogram, 40 bins "
    "(`ETL_Multi_Lvl_API/etl_analysis.py:266-275`).",
)


sql_query(
    "union_all_counts",
    """
    SELECT o_orderpriority, COUNT(*) AS cnt FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    ) GROUP BY 1
    """,
    "A17 unionByName concat (`ETL_Multi_Lvl_API/transform.py:242`).",
)


# --- §2.4 feature expressions transposed to testdata -----------------------


sql_query(
    "feature_aqi_category",
    """
    SELECT CASE
             WHEN l_extendedprice / 100 IS NULL THEN 'Unknown'
             WHEN l_extendedprice / 100 <= 50 THEN 'Good'
             WHEN l_extendedprice / 100 >= 51 AND l_extendedprice / 100 <= 100 THEN 'Moderate'
             WHEN l_extendedprice / 100 >= 101 AND l_extendedprice / 100 <= 200 THEN 'Unhealthy'
             WHEN l_extendedprice / 100 >= 201 AND l_extendedprice / 100 <= 300 THEN 'Very Unhealthy'
             WHEN l_extendedprice / 100 > 300 THEN 'Hazardous'
             ELSE 'Unknown'
           END AS aqi_category,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY 1
    """,
    "F1 gapped AQI boundaries (`ETL_Multi_Lvl_API/transform.py:42-59`) "
    "applied to a scaled price — values in the (50,51)...",
)


sql_query(
    "feature_severity_risk",
    """
    WITH sev AS (
      SELECT COALESCE(l_quantity, 0) * 5.0
             + COALESCE(l_discount * 100, 0) * 3.0
             + COALESCE(l_tax * 100, 0) * 4.0
             + COALESCE(CAST(l_linenumber AS DOUBLE), 0) * 4.0 AS severity
      FROM lineitem)
    SELECT CASE WHEN severity > 400 THEN 'High Risk'
                WHEN severity > 200 THEN 'Moderate Risk'
                ELSE 'Low Risk' END AS risk_class,
           COUNT(*) AS cnt,
           ROUND(1e-9 + AVG(severity), 4) AS avg_severity
    FROM sev GROUP BY 1
    """,
    "F2 null-as-zero weighted severity + F3 risk thresholds "
    "(`ETL_Multi_Lvl_API/transform.py:62-80`) on lineitem columns.",
)


sql_query(
    "feature_temp_category",
    """
    SELECT CASE
             WHEN value IS NULL OR value <= -100 OR value > 100 THEN NULL
             WHEN value <= 0 THEN 'very_cold'
             WHEN value <= 10 THEN 'cold'
             WHEN value <= 20 THEN 'mild'
             WHEN value <= 30 THEN 'warm'
             ELSE 'hot' END AS temp_category,
           COUNT(*) AS cnt
    FROM events GROUP BY 1
    """,
    "F6 pd.cut right-closed bins (`ETL_Weather_API/transform.py:75`).",
)


sql_query(
    "feature_feels_like",
    """
    SELECT event_type,
           ROUND(1e-9 + AVG(value - (CAST(user_id % 100 AS DOUBLE) / 100.0) * 2.0), 4)
             AS avg_feels_like
    FROM events GROUP BY event_type
    """,
    "F7 humidity-adjusted proxy formula (`ETL_Weather_API/transform.py:77`) "
    "transposed onto events columns.",
)


sql_query(
    "param_normalize",
    """
    SELECT CASE LOWER(TRIM(event_type))
             WHEN 'click' THEN 'interaction'
             WHEN 'view' THEN 'interaction'
             WHEN 'purchase' THEN 'conversion'
             WHEN 'signup' THEN 'conversion'
             ELSE NULL END AS canonical,
           COUNT(*) AS cnt
    FROM events
    WHERE CASE LOWER(TRIM(event_type))
             WHEN 'click' THEN 'interaction'
             WHEN 'view' THEN 'interaction'
             WHEN 'purchase' THEN 'conversion'
             WHEN 'signup' THEN 'conversion'
             ELSE NULL END IS NOT NULL
    GROUP BY 1
    """,
    "P3 parameter-name normalization with unknown-drop "
    "(`ETL_Multi_Lvl_API/transform.py:171-192`): chained when() over a "
    "trimmed/lowered key, nulls filtered.",
)


@query(
    "json_extract_coalesce",
    """
    SELECT event_type,
           ROUND(1e-9 + AVG(COALESCE(CAST(json_extract_string(props, '$.k') AS DOUBLE),
                              value)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def q_json_extract_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 key-variant coalesce (`ETL_Multi_Lvl_API/transform.py:110-118`)
    over a semi-structured JSON column."""
    ev = read_sf_table(spark, sf_dir, "events")
    k = F.coalesce(
        F.get_json_object("props", "$.k").cast("double"), F.col("value")
    )
    return ev.groupBy("event_type").agg(r4(F.avg(k)).alias("avg_k"))


sql_query(
    "filter_project_limit",
    """
    SELECT event_id, user_id, ROUND(1e-9 + value, 4) AS value
    FROM events WHERE event_type = 'click' AND value > 5.0
    ORDER BY event_id ASC LIMIT 2000
    """,
    "P6/P11/P12: filter + projection + deterministic limit "
    "(`ETL_Multi_Lvl_API/etl_analysis.py:268,308,336`).",
)


sql_query(
    "trim_normalize_count",
    """
    SELECT TRIM(LOWER(source)) AS source_norm, COUNT(*) AS cnt
    FROM documents GROUP BY 1
    """,
    "P10 string trim normalization "
    "(`ETL_Multi_Lvl_API/etl_analysis.py:352-353`).",
)


# ---------------------------------------------------------------------------
# [extension] joins / windows / rollup (SURVEY.md §2.3 note, §7 M5)
# ---------------------------------------------------------------------------


sql_query(
    "join_star_dims",
    """
    SELECT r_name, COUNT(*) AS cnt, ROUND(1e-9 + AVG(c_acctbal), 4) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    "Star-schema dim joins: both dims broadcast (nation=25, region=5 rows) "
    "so the fact side never shuffles for the join — only the final tiny "
    "aggregate exchanges.",
)


sql_query(
    "join_fact_revenue",
    """
    SELECT o_orderpriority,
           ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    "Fact-to-fact join on the order key.",
)


sql_query(
    "join_semi",
    """
    SELECT c_mktsegment, COUNT(*) AS cnt FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    "Left-semi join: customers with at least one order.",
)


sql_query(
    "join_anti",
    """
    SELECT c_mktsegment, COUNT(*) AS cnt FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    "Left-anti join: customers with no orders.",
)


sql_query(
    "window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    "Window ranking: top-3 orders per customer.",
)


sql_query(
    "rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           ROUND(1e-9 + SUM(l_extendedprice), 2) AS sum_price,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "ROLLUP grouping sets — subtotals + grand total in one pass (Spark "
    "expands to a single Expand+HashAggregate, no re-scan).",
)


@query(
    "lag_gap_seconds",
    """
    WITH g AS (
      SELECT event_type,
             EPOCH(ts) - EPOCH(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS gap_s
      FROM events)
    SELECT event_type, ROUND(1e-9 + AVG(gap_s), 4) AS avg_gap_s, COUNT(gap_s) AS cnt
    FROM g GROUP BY event_type
    """,
)
def q_lag_gap_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG window: inter-event gap per user, averaged by type — the
    sessionization primitive."""
    ev = read_sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    ts_s = epoch_seconds("ts")
    gap = ts_s - F.lag(ts_s).over(w)
    return (
        ev.select("event_type", gap.alias("gap_s"))
        .groupBy("event_type")
        .agg(r4(F.avg("gap_s")).alias("avg_gap_s"), F.count("gap_s").alias("cnt"))
    )


sql_query(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           ROUND(1e-9 + SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(1e-9 + AVG(l_quantity), 4) AS avg_qty,
           ROUND(1e-9 + AVG(l_extendedprice), 4) AS avg_price,
           ROUND(1e-9 + AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "Flagship: TPC-H Q1-style pricing summary.",
)


@query(
    "tpch_q3_top_revenue",
    """
    SELECT o_orderkey,
           ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: filtered dim broadcast into fact joins, top-10 by
    revenue with deterministic tie-break."""
    cust = read_sf_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = read_sf_table(spark, sf_dir, "orders")
    li = read_sf_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).alias("rev_raw"))
        .orderBy(F.desc("rev_raw"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            r2(F.col("rev_raw")).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


sql_query(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4-style: EXISTS decorrelates to a left-semi join; the probe side "
    "carries only (l_orderkey, l_shipdate) thanks to column pruning.",
)


sql_query(
    "tpch_q18_large_orders",
    """
    WITH big AS (SELECT l_orderkey AS o_orderkey FROM lineitem
                 GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    SELECT o.o_orderkey,
           SUBSTR(CAST(CAST(o.o_orderdate AS TIMESTAMP) AS STRING), 1, 19) AS o_orderdate,
           ROUND(1e-9 + o.o_totalprice, 2) AS o_totalprice,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
    FROM orders o JOIN big USING (o_orderkey)
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 20
    """,
    "TPC-H Q18-style: group-by-HAVING feeding a fact join (the classic "
    "two-pass over lineitem), top-20 with deterministic tie-break.",
)


sql_query(
    "grouping_sets_volume",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
           COALESCE(l_linestatus, 'ALL') AS l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "GROUPING SETS (superset of the rollup surface): one Expand-based pass "
    "over the fact table instead of three scans + union.",
)


@query(
    "distribution_stats",
    """
    SELECT l_returnflag,
           ROUND(1e-9 + quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(1e-9 + quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           ROUND(1e-9 + quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           ROUND(1e-9 + STDDEV(l_extendedprice), 4) AS sd,
           ROUND(1e-9 + MIN(l_extendedprice), 4) AS lo,
           ROUND(1e-9 + MAX(l_extendedprice), 4) AS hi
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + spread per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``, verified bit-equal).  At
    100 TB swap in ``approx_percentile`` (t-digest sketch, one pass,
    mergeable across partitions) — the exact form needs a per-group sort."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    # one percentile buffer for all three cut points (array form), not
    # three independent value-count maps over the same column
    pcts = F.expr("percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))")
    return (
        li.groupBy("l_returnflag")
        .agg(
            pcts.alias("pcts"),
            r4(F.stddev("l_extendedprice")).alias("sd"),
            r4(F.min("l_extendedprice")).alias("lo"),
            r4(F.max("l_extendedprice")).alias("hi"),
        )
        .select(
            "l_returnflag",
            r4(F.element_at("pcts", 1)).alias("p50"),
            r4(F.element_at("pcts", 2)).alias("p95"),
            r4(F.element_at("pcts", 3)).alias("p99"),
            "sd",
            "lo",
            "hi",
        )
    )


@query(
    "unpivot_melt",
    """
    SELECT p_brand, metric,
           ROUND(1e-9 + AVG(v), 4) AS avg_v
    FROM (
      SELECT p_brand, 'retail_price' AS metric, p_retailprice AS v FROM part
      UNION ALL
      SELECT p_brand, 'size' AS metric, CAST(p_size AS DOUBLE) AS v FROM part
    ) GROUP BY p_brand, metric
    """,
)
def q_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (the inverse of A2's pivot) via ``stack`` —
    a zero-shuffle Expand projection feeding one aggregate."""
    part = read_sf_table(spark, sf_dir, "part")
    long = part.select(
        "p_brand",
        F.expr(
            "stack(2, 'retail_price', p_retailprice,"
            " 'size', CAST(p_size AS DOUBLE)) AS (metric, v)"
        ),
    )
    return long.groupBy("p_brand", "metric").agg(r4(F.avg("v")).alias("avg_v"))


sql_query(
    "corr_price_quantity",
    """
    SELECT l_returnflag,
           ROUND(1e-9 + corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
           ROUND(1e-9 + covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_cov
    FROM lineitem GROUP BY l_returnflag
    """,
    "Bivariate stats per group: Pearson corr + sample covariance — "
    "single-pass co-moment aggregates, partial+final like any hash agg.",
)


@query(
    "set_ops_segments",
    """
    WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders
                    WHERE o_orderstatus = 'F'),
         open_o  AS (SELECT DISTINCT o_custkey AS k FROM orders
                    WHERE o_orderstatus = 'O')
    SELECT 'both' AS segment, COUNT(*) AS cnt
    FROM (SELECT k FROM buyers INTERSECT SELECT k FROM open_o)
    UNION ALL
    SELECT 'finished_only', COUNT(*)
    FROM (SELECT k FROM buyers EXCEPT SELECT k FROM open_o)
    UNION ALL
    SELECT 'open_only', COUNT(*)
    FROM (SELECT k FROM open_o EXCEPT SELECT k FROM buyers)
    """,
)
def q_set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set algebra over customer key sets (Spark plans
    them as left-semi/left-anti aggregates — no full materialization)."""
    orders = read_sf_table(spark, sf_dir, "orders")
    buyers = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    open_o = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    ).distinct()

    def seg(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit(name).alias("segment"), F.col("cnt")
        )

    return (
        seg("both", buyers.intersect(open_o))
        .unionAll(seg("finished_only", buyers.exceptAll(open_o)))
        .unionAll(seg("open_only", open_o.exceptAll(buyers)))
    )


@query(
    "equi_depth_histogram",
    """
    WITH d AS (SELECT l_extendedprice AS v, COUNT(*) AS c
               FROM lineitem GROUP BY l_extendedprice),
    tot AS (SELECT SUM(c) AS n FROM d),
    cum AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum_c FROM d)
    SELECT CAST((10 * cum_c + n - 1) // n AS INT) AS bucket,
           CAST(SUM(c) AS BIGINT) AS cnt,
           ROUND(1e-9 + MIN(v), 4) AS lo, ROUND(1e-9 + MAX(v), 4) AS hi
    FROM cum, tot GROUP BY 1
    """,
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency histogram at DISTINCT-VALUE granularity — the
    complement of A14's equal-width binning.  bucket(v) =
    ceil(10 * cum_count(v) / n) in exact integer arithmetic, so tied
    rows always share a bucket (deterministic under ties, unlike NTILE,
    which splits them by arbitrary row order).

    Scale shape (replaces the round-1 full-table NTILE flagged in
    VERDICT.md): groupBy collapses to distinct values, then
    ``global_running_sums`` computes the cumulative count as a
    distributed prefix sum — range-partitioned, per-partition windows,
    broadcast offsets; the only unpartitioned window is over the
    partition-count subtotal frame.  No executor ever sorts more than
    its own value range.  ``equi_depth_histogram_ntile`` keeps the
    row-split NTILE form as the small-data parity twin."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    d = (
        li.select(F.col("l_extendedprice").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = d.agg(F.sum("c").alias("n"))
    cum = S.global_running_sums(d, ["v"], ["c"])
    bucket = F.expr("CAST((10 * cum_c + n - 1) DIV n AS INT)").alias("bucket")
    return (
        cum.join(F.broadcast(tot))
        .groupBy(bucket)
        .agg(
            F.sum("c").alias("cnt"),
            r4(F.min("v")).alias("lo"),
            r4(F.max("v")).alias("hi"),
        )
    )


sql_query(
    "equi_depth_histogram_ntile",
    """
    WITH t AS (SELECT l_extendedprice AS v,
                      NTILE(10) OVER (ORDER BY l_extendedprice) AS bucket
               FROM lineitem)
    SELECT bucket, COUNT(*) AS cnt,
           ROUND(1e-9 + MIN(v), 4) AS lo, ROUND(1e-9 + MAX(v), 4) AS hi
    FROM t GROUP BY bucket
    """,
    "Row-split NTILE equi-depth histogram — the small-data parity twin of "
    "``equi_depth_histogram``.",
)


# ---------------------------------------------------------------------------
# [extension] TPC-H-style analytical suite, widened (SURVEY.md §2.3 note:
# joins/set-ops are extension surface; the testdata star schema exercises
# them).  Adapted to the driver schema — no partsupp/shipmode/commitdate
# columns, so Q2/Q11/Q12/Q20/Q21 are re-expressed on available columns
# where the *plan shape* (the thing that matters at 100 TB) is preserved.
# ---------------------------------------------------------------------------


@query(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name,
           ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: six-way star join, revenue by supplier nation where the
    supplier is "local" (same nation as the customer).

    Scale shape: lineitem is the only big table — orders is filtered by
    the date predicate (pushed to its scan) before joining; customer,
    supplier, nation, region are dims and broadcast.  The c_nationkey =
    s_nationkey equality rides along as a post-join filter, so the one
    shuffle is lineitem⋈orders on orderkey (AQE may convert even that to
    broadcast at small sf)."""
    cust = read_sf_table(spark, sf_dir, "customer")
    orders = read_sf_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_sf_table(spark, sf_dir, "lineitem")
    supp = read_sf_table(spark, sf_dir, "supplier")
    nat = read_sf_table(spark, sf_dir, "nation")
    reg = read_sf_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            r2(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )


sql_query(
    "tpch_q6_forecast_revenue",
    """
    SELECT ROUND(1e-9 + SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6: pure scan-filter-aggregate.",
)


sql_query(
    "tpch_q7_volume_shipping",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INT) AS l_year,
           ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND cn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND sn.n_name <> cn.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, YEAR(l_shipdate)
    """,
    "TPC-H Q7: bilateral trade volume between nation pairs by year (four "
    "nations rather than TPC-H's two so sf0.001 smoke data still produces "
    "matches).",
)


sql_query(
    "tpch_q9_nation_year_profit",
    """
    SELECT n_name, CAST(YEAR(o_orderdate) AS INT) AS o_year,
           ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount)), 0) AS amount
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE p_type = 'PROMO'
    GROUP BY n_name, YEAR(o_orderdate)
    """,
    "TPC-H Q9 shape (minus ps_supplycost, which the schema lacks): revenue "
    "by supplier nation × order year for one product type.",
)


sql_query(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name,
           ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(1e-9 + c_acctbal, 2) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
    "TPC-H Q10: top-20 customers by lost revenue on returned items.",
)


sql_query(
    "tpch_q13_order_count_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    "TPC-H Q13: distribution of orders-per-customer, left outer join so "
    "zero-order customers count with c_count=0.",
)


sql_query(
    "tpch_q14_promo_effect",
    """
    SELECT ROUND(1e-9 + 100.0 *
             SUM(CASE WHEN p_type = 'PROMO'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
             SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    "TPC-H Q14: promo revenue share for one month — conditional aggregation "
    "over a broadcast dim join; the month predicate prunes row groups on "
    "time-sorted lineitem.",
)


sql_query(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           ROUND(1e-9 + total_revenue, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    "TPC-H Q15: supplier(s) achieving the maximum quarterly revenue.",
)


sql_query(
    "tpch_q17_small_quantity_revenue",
    """
    WITH pa AS (SELECT l_partkey AS pk, 0.5 * AVG(l_quantity) AS half_avg
                FROM lineitem GROUP BY l_partkey)
    SELECT ROUND(1e-9 + SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON l_partkey = p_partkey
    JOIN pa ON l_partkey = pk
    WHERE p_brand = 'Brand#13' AND l_quantity < half_avg
    """,
    "TPC-H Q17: small-quantity-order revenue — the correlated AVG subquery "
    "decorrelates into a per-part aggregate joined back to the fact.",
)


sql_query(
    "tpch_q19_disjunctive_predicates",
    """
    SELECT ROUND(1e-9 + SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
             AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
             AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    "TPC-H Q19: OR-of-ANDs mixing build-side (part) and probe-side "
    "(lineitem) predicates.",
)


sql_query(
    "tpch_q22_idle_customers",
    """
    WITH avg_bal AS (SELECT AVG(c_acctbal) AS a FROM customer
                     WHERE c_acctbal > 0.0)
    SELECT c_mktsegment, COUNT(*) AS numcust,
           ROUND(1e-9 + SUM(c_acctbal), 2) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    "TPC-H Q22 shape: rich customers with no urgent orders (scalar-subquery "
    "threshold + anti join), grouped by market segment (the schema has no "
    "phone country codes; the priority predicate keeps the anti join "
    "selective on synthetic data where every customer orders).",
)


sql_query(
    "argmin_cheapest_part_per_type",
    """
    WITH ranked AS (
      SELECT p_partkey, p_name, p_brand, p_type,
             ROUND(1e-9 + p_retailprice, 2) AS p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_type
                                ORDER BY p_retailprice ASC, p_partkey ASC) AS rn
      FROM part)
    SELECT p_partkey, p_name, p_brand, p_type, p_retailprice
    FROM ranked WHERE rn = 1
    """,
    "TPC-H Q2's argmin-join-back pattern on available columns: the cheapest "
    "part per type with full row recovery, as a single partitioned "
    "ROW_NUMBER window (one shuffle on p_type) instead of a min-aggregat",
)


sql_query(
    "tpch_q8_market_share",
    """
    WITH trade AS (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'EUROPE')
    SELECT o_year,
           ROUND(1e-9 + SUM(CASE WHEN supp_nation = 'NATION_7'
                 THEN volume ELSE 0 END) / SUM(volume), 4) AS mkt_share
    FROM trade GROUP BY o_year
    """,
    "TPC-H Q8: one nation's share of supplier revenue into a region, by year "
    "— conditional-sum ratio over the star join.",
)


sql_query(
    "tpch_q16_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    "TPC-H Q16 shape (partsupp → lineitem supplier pairs): distinct supplier "
    "variety per part attribute with a NOT-IN exclusion list.",
)


@query(
    "tpch_q20_volume_suppliers",
    """
    WITH pp AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    vol AS (
      SELECT l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem JOIN pp ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey HAVING SUM(l_quantity) > 100)
    SELECT s_suppkey, s_name, ROUND(1e-9 + s_acctbal, 2) AS s_acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM vol)
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (minus partsupp availability): suppliers who
    moved significant volume of a part class in a year — IN-subquery →
    left-semi join against a HAVING-filtered aggregate.  The part
    filter broadcasts into the fact scan; the qualifying supplier set
    is tiny and broadcasts into the dim."""
    li = read_sf_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pp = read_sf_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    vol = (
        li.join(F.broadcast(pp), li.l_partkey == pp.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 100)
        .select("l_suppkey")
    )
    supp = read_sf_table(spark, sf_dir, "supplier")
    return (
        supp.join(
            F.broadcast(vol), supp.s_suppkey == vol.l_suppkey, "left_semi"
        )
        .select("s_suppkey", "s_name", r2(F.col("s_acctbal")).alias("s_acctbal"))
    )


sql_query(
    "tpch_q21_sole_late_supplier",
    """
    WITH l AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem),
    late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM l JOIN orders ON l_orderkey = o_orderkey
      WHERE l.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    SELECT l1.l_suppkey, s_name,
           CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM l l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY l1.l_suppkey, s_name
    ORDER BY numwait DESC, l1.l_suppkey ASC LIMIT 25
    """,
    "TPC-H Q21 shape (\"late\" = shipped >60 days after order, since the "
    "schema has no commit/receipt dates): suppliers who were the SOLE late "
    "supplier on multi-supplier orders.",
)


sql_query(
    "tpch_q11_value_concentration",
    """
    WITH pr AS (
      SELECT l_partkey, SUM(l_extendedprice * (1 - l_discount)) AS value
      FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey, ROUND(1e-9 + value, 2) AS value
    FROM pr
    WHERE value > (SELECT SUM(value) * 0.0007 FROM pr)
    ORDER BY value DESC, l_partkey ASC
    """,
    "TPC-H Q11 shape (revenue standing in for ps_supplycost*availqty): parts "
    "holding an outsized share of total value — a per-key aggregate filtered "
    "by a scalar subquery over ITS OWN total.",
)


sql_query(
    "tpch_q12_shipmode_priority",
    """
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('R', 'A')
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
    "TPC-H Q12 shape (l_returnflag standing in for l_shipmode, which the "
    "testdata lacks): per ship class, how many lines came from high- vs "
    "low-priority orders in one year.",
)


sql_query(
    "cube_volume",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(1e-9 + SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "CUBE over (returnflag, linestatus): all 2^2 grouping combinations in "
    "one pass — completes the multi-grouping trio next to rollup_pricing and "
    "grouping_sets_volume.",
)
