"""Streaming-twin queries (SURVEY.md §2.5 [extension]).

The windowed event aggregation is registered in its BATCH form so the
driver's DuckDB oracle can verify it; ``tests/test_streaming.py`` pins
that the streaming execution of the very same function (file source →
watermark → foreachBatch upsert) produces row-identical output.  That
closes the loop: oracle verifies the semantics, the streaming test
verifies the streaming machinery preserves them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.functions.features import epoch_seconds
from advanced_etl_pipelines_spark.plans.registry import query, r4, sql_query
from advanced_etl_pipelines_spark.sources.readers import read_sf_table
from advanced_etl_pipelines_spark.streaming.windows import windowed_event_stats


@query(
    "json_props_extract",
    """
    SELECT event_type,
           CAST(props->>'$.k' AS INT) % 10 AS k_bucket,
           COUNT(*) AS cnt,
           ROUND(1e-9 + AVG(value), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: get_json_object over the ``props`` JSON
    string column (schema-on-read, no parse stage), bucketed aggregate.
    At scale, promote hot JSON fields to columns at ingest; this is the
    exploratory form."""
    ev = read_sf_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(
            "event_type", (k % 10).alias("k_bucket"), "value"
        )
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            r4(F.avg("value")).alias("avg_value"),
        )
    )


@query(
    "sessionize_events",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events,
           ROUND(1e-9 + COUNT(*) * 1.0 / COUNT(DISTINCT session_id), 4)
             AS events_per_session
    FROM s GROUP BY user_id
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap): LAG marks session
    starts, a running sum assigns session ids, then per-user stats.  The
    batch twin of the stateful streaming sessionizer in
    ``streaming/stateful.py``; both shuffle once on user_id."""
    from pyspark.sql.window import Window

    ev = read_sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    ts_s = epoch_seconds("ts")
    gap = ts_s - F.lag(ts_s).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy(F.asc("ts")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = ev.withColumn("new_s", new_s).withColumn(
        "session_id", F.sum("new_s").over(run)
    )
    return s.groupBy("user_id").agg(
        F.count_distinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        r4(
            F.count(F.lit(1)) * F.lit(1.0) / F.count_distinct("session_id")
        ).alias("events_per_session"),
    )


@query(
    "stream_windowed_event_stats",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(1e-9 + SUM(value), 4) AS sum_value,
           ROUND(1e-9 + AVG(value), 4) AS avg_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q_stream_windowed_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window stats — the batch twin of the
    Structured Streaming pipeline in ``streaming/windows.py``."""
    out = windowed_event_stats(read_sf_table(spark, sf_dir, "events"))
    return out.select(
        "window_start",
        "window_end",
        "event_type",
        "n_events",
        r4(F.col("sum_value")).alias("sum_value"),
        r4(F.col("avg_value")).alias("avg_value"),
    )


sql_query(
    "stream_dedup_replay",
    """
    WITH replay AS (
      SELECT event_id, event_type FROM events
      UNION ALL
      SELECT event_id, event_type FROM events
      WHERE (((event_id % 2147483648) * 2654435761) % 4294967296)
            / 4294967296.0 < 0.1)
    SELECT event_type,
           COUNT(*) AS n_delivered,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS n_dups
    FROM replay GROUP BY event_type
    """,
    "At-least-once delivery suppression, batch twin: a deterministic 10% of "
    "events are re-delivered (portable hash on event_id — the oracle "
    "rebuilds the same replay), and the ingest must collapse them back to "
    "one row per event_id.",
)


@query(
    "variant_props_extract",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1e-9 + AVG(CAST(json_extract(props, '$.k') AS DOUBLE)), 4)
             AS avg_k
    FROM events GROUP BY event_type
    """,
)
def q_variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type (Spark 4): parse
    once into the binary variant encoding, then typed path access with
    ``variant_get`` — the engine-native successor to per-query JSON
    string re-parsing (compare json_props_extract, which is the
    schema-on-read form of the same query).  At 100 TB the parse
    happens once at ingest and lands in a variant COLUMN; every later
    query pays only the typed path read."""
    ev = read_sf_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return (
        ev.select(
            "event_type",
            F.variant_get(v, "$.k", "double").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r4(F.avg("k")).alias("avg_k"),
        )
    )


@query(
    "session_window_stats",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) >= 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id,
           MIN(ts) AS session_start,
           ROUND(1e-9 + EPOCH(MAX(ts)) - EPOCH(MIN(ts)), 4) AS active_s,
           COUNT(*) AS n_events,
           ROUND(1e-9 + SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (``F.session_window``, gap 1800s): Spark's
    own dynamic-gap session operator, the same function that runs
    statefully on a watermarked stream (``tests/test_streaming.py`` pins
    stream==batch).  The oracle rebuilds identical sessions with the
    LAG-islands construction — new session when the inter-event gap
    >= the 1800s merge horizon (session windows are half-open
    ``[ts, ts+gap)``)."""
    from advanced_etl_pipelines_spark.streaming.windows import (
        session_window_stats,
    )

    ev = read_sf_table(spark, sf_dir, "events")
    out = session_window_stats(ev, gap_seconds=1800)
    return out.select(
        "user_id",
        "session_start",
        r4(F.col("active_s")).alias("active_s"),
        "n_events",
        r4(F.col("sum_value")).alias("sum_value"),
    )
