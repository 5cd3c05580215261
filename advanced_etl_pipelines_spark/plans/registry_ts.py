"""Time-series + behavioral-analytics queries [extension]: as-of join,
band (range) join, gap-filled resample, trailing time windows, funnel,
cohort retention — the event-warehouse surface, all DuckDB-oracle-checked
(DuckDB has native ASOF JOIN, making it a real oracle for ours).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from advanced_etl_pipelines_spark.functions.features import epoch_seconds
from advanced_etl_pipelines_spark.operators import timeseries as TS
from advanced_etl_pipelines_spark.plans.registry import query, r4, sql_query
from advanced_etl_pipelines_spark.sources.readers import read_sf_table

_FMT = "yyyy-MM-dd HH:mm:ss"


def _purchases_deduped(ev: DataFrame) -> DataFrame:
    """One purchase row per (user_id, ts): keep max event_id — as-of
    matches at tied timestamps must be deterministic on both engines."""
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    return (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )


@query(
    "asof_join_last_purchase",
    """
    WITH purch AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'purchase'),
    p AS (SELECT user_id, ts, event_id, value FROM purch WHERE rn = 1),
    clicks AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'click')
    SELECT c.event_id, c.user_id,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS asof_purchase_ts,
           ROUND(1e-9 + p.value, 4) AS asof_purchase_value
    FROM clicks c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click annotated with the user's most recent
    purchase at-or-before it (kdb ``aj`` / DuckDB ``ASOF JOIN``).  Spark
    has no built-in; ours is the union-tag + last_value(ignorenulls)
    window — one shuffle on user_id, no pair explosion
    (operators/timeseries.py::asof_join)."""
    ev = read_sf_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    p = _purchases_deduped(ev).select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    joined = TS.asof_join(
        clicks, p, key="user_id", left_ts="ts", right_ts="p_ts",
        payload=["p_ts", "p_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", _FMT).alias("ts"),
        F.date_format("asof_p_ts", _FMT).alias("asof_purchase_ts"),
        r4(F.col("asof_p_value")).alias("asof_purchase_value"),
    )


sql_query(
    "range_join_price_bands",
    """
    WITH bands AS (
      SELECT band, lo, hi FROM (VALUES
        ('b0', 0.0, 20000.0), ('b1', 20000.0, 40000.0),
        ('b2', 40000.0, 60000.0), ('b3', 60000.0, 80000.0),
        ('b4', 80000.0, 1e9)) AS t(band, lo, hi))
    SELECT band, COUNT(*) AS cnt,
           ROUND(1e-9 + SUM(l_extendedprice), 2) AS total_price
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    """,
    "Range (band) join: fact values classified into [lo, hi) intervals from "
    "a band dim.",
)


@query(
    "resample_gapfill_hourly",
    """
    WITH actual AS (
      SELECT event_type AS g, DATE_TRUNC('hour', ts) AS bucket,
             COUNT(*) AS cnt, AVG(value) AS avg_value
      FROM events GROUP BY 1, 2),
    spine AS (
      SELECT event_type AS g,
             UNNEST(generate_series(DATE_TRUNC('hour', MIN(ts)),
                                    DATE_TRUNC('hour', MAX(ts)),
                                    INTERVAL 1 HOUR)) AS bucket
      FROM events GROUP BY event_type)
    SELECT s.g AS event_type,
           STRFTIME(s.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           COALESCE(a.cnt, 0) AS cnt,
           ROUND(1e-9 + a.avg_value, 4) AS avg_value
    FROM spine s LEFT JOIN actual a ON s.g = a.g AND s.bucket = a.bucket
    """,
)
def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample: empty buckets appear with cnt=0 /
    NULL avg — what pandas ``resample`` gives and ``groupBy(window())``
    does not.  The spine is sequence()-generated per group (buckets ×
    groups rows, trivially small next to the fact)."""
    ev = read_sf_table(spark, sf_dir, "events")
    out = TS.resample_gapfill(
        ev,
        group="event_type",
        ts="ts",
        step="hour",
        agg={
            "cnt": F.count(F.lit(1)),
            "avg_value": F.avg("value"),
        },
    )
    return out.select(
        "event_type",
        F.date_format("bucket", _FMT).alias("bucket"),
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        r4(F.col("avg_value")).alias("avg_value"),
    )


sql_query(
    "rolling_avg_24h",
    """
    SELECT event_id, user_id,
           ROUND(1e-9 + AVG(value) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW),
           4) AS avg_24h,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
           AS n_24h
    FROM events
    """,
    "Trailing 24-hour per-user average — a RANGE window over epoch seconds "
    "(two-pointer evaluation, O(n) per partition; no self-join).",
)


sql_query(
    "funnel_view_click_purchase",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
    "Ordered three-stage funnel: users who viewed, then clicked after the "
    "first view, then purchased after that first click.",
)


@query(
    "cohort_retention_daily",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
      FROM events GROUP BY user_id)
    SELECT STRFTIME(f.cohort_date, '%Y-%m-%d') AS cohort_date,
           DATEDIFF('day', f.cohort_date, CAST(e.ts AS DATE)) AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    WHERE DATEDIFF('day', f.cohort_date, CAST(e.ts AS DATE)) BETWEEN 0 AND 6
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention (first-seen date × day offset 0-6):
    first-seen is a per-user aggregate broadcast back onto the fact;
    the distinct-user count shuffles on the small (cohort, offset) key."""
    ev = read_sf_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    offset = F.datediff(F.to_date("ts"), F.col("cohort_date"))
    return (
        ev.join(F.broadcast(first_seen), "user_id")
        .where((offset >= 0) & (offset <= 6))
        .groupBy(
            F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date"),
            offset.alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
    )


@query(
    "temporal_validity_intervals",
    """
    WITH iv AS (
      SELECT user_id, value,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
             EPOCH(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - EPOCH(ts) AS validity_s
      FROM events WHERE event_type = 'purchase')
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS open_versions,
           ROUND(1e-9 + AVG(validity_s), 4) AS avg_validity_s,
           ROUND(1e-9 + SUM(value * COALESCE(validity_s, 0)), 4)
             AS value_seconds
    FROM iv GROUP BY user_id
    """,
)
def q_temporal_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-to-interval conversion (the SCD2 / temporal-table primitive):
    each purchase opens a validity interval that the user's NEXT purchase
    closes — LEAD over (user, time) — then per-user interval stats,
    including a time-weighted value integral (the "average balance" shape
    billing systems compute).  One shuffle: the window partitioning is
    reused by the groupBy (same key), so Catalyst plans a single
    exchange."""
    ev = read_sf_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    ts_s = epoch_seconds("ts")
    validity = F.lead(ts_s).over(w) - ts_s
    iv = ev.select(
        "user_id",
        "value",
        F.lead("ts").over(w).alias("valid_to"),
        validity.alias("validity_s"),
    )
    return iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(
            F.when(F.col("valid_to").isNull(), 1).otherwise(0)
        ).alias("open_versions"),
        r4(F.avg("validity_s")).alias("avg_validity_s"),
        r4(
            F.sum(F.col("value") * F.coalesce(F.col("validity_s"), F.lit(0.0)))
        ).alias("value_seconds"),
    )


@query(
    "locf_forward_fill",
    """
    WITH actual AS (
      SELECT event_type AS g, DATE_TRUNC('hour', ts) AS bucket,
             AVG(value) AS avg_value
      FROM events GROUP BY 1, 2),
    spine AS (
      SELECT event_type AS g,
             UNNEST(generate_series(DATE_TRUNC('hour', MIN(ts)),
                                    DATE_TRUNC('hour', MAX(ts)),
                                    INTERVAL 1 HOUR)) AS bucket
      FROM events GROUP BY event_type),
    grid AS (
      SELECT s.g, s.bucket, a.avg_value
      FROM spine s LEFT JOIN actual a ON s.g = a.g AND s.bucket = a.bucket),
    filled AS (
      SELECT g, avg_value,
             last_value(avg_value IGNORE NULLS) OVER (
               PARTITION BY g ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM grid)
    SELECT g AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN avg_value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gaps,
           ROUND(1e-9 + AVG(v), 4) AS avg_filled
    FROM filled GROUP BY g
    """,
)
def q_locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward over a gap-filled series: the
    sensor/market-data staple.  Reuses the resample spine (empty buckets
    surface as NULL), then `last(..., ignorenulls=True)` over an
    unbounded-preceding ROWS frame fills each gap with the latest real
    value.  The window partition key is the series key — the same
    shuffle the resample already did, so the fill adds no exchange."""
    ev = read_sf_table(spark, sf_dir, "events")
    grid = TS.resample_gapfill(
        ev,
        group="event_type",
        ts="ts",
        step="hour",
        agg={"avg_value": F.avg("value")},
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = grid.select(
        "event_type",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(w).alias("v"),
    )
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.col("avg_value").isNull().cast("long")).alias("n_gaps"),
        r4(F.avg("v")).alias("avg_filled"),
    )


sql_query(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1e-9 + COUNT(*) * 1.0 / SUM(COUNT(*)) OVER
                 (PARTITION BY prev_type), 4) AS p_next
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    "First-order Markov transition matrix over per-user event streams: LAG "
    "pairs each event with its predecessor, then (prev, next) counts "
    "normalize into transition probabilities via a window over the grouped "
    "counts.",
)


@query(
    "user_event_sequences",
    """
    WITH seq AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS types
      FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(len(types) AS BIGINT) AS n_events,
           array_to_string(types[1:5], ',') AS first5
    FROM seq
    """,
)
def q_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event sequences — the construction step for
    next-event-prediction / session-model training data.  Spark's
    collect_list has no intra-group order guarantee, so the canonical
    trick: collect (ts, event_id, payload) STRUCTS, array_sort (struct
    ordering is field-lexicographic), then project the payload out —
    one shuffle, deterministic on ties via event_id."""
    ev = read_sf_table(spark, sf_dir, "events")
    packed = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("s")
    )
    types = F.expr("transform(s, x -> x.event_type)")
    return packed.select(
        "user_id",
        F.size(types).cast("long").alias("n_events"),
        F.array_join(F.slice(types, 1, 5), ",").alias("first5"),
    )


@query(
    "seasonal_decompose_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, SUM(value) AS v
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT event_type, day, v,
             AVG(v) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS ma,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS wn
      FROM daily),
    det AS (
      SELECT event_type, isodow(day) - 1 AS wd, v - ma AS dt
      FROM t WHERE wn = 7),
    wdm AS (
      SELECT event_type, wd, AVG(dt) AS m, COUNT(*) AS n_days
      FROM det GROUP BY 1, 2),
    ctr AS (SELECT event_type, AVG(m) AS mm FROM wdm GROUP BY 1),
    seas AS (
      SELECT wdm.event_type, wd, n_days, m - mm AS seasonal
      FROM wdm JOIN ctr ON wdm.event_type = ctr.event_type),
    rem AS (
      SELECT det.event_type, det.dt, det.dt - seas.seasonal AS r
      FROM det JOIN seas
        ON det.event_type = seas.event_type AND det.wd = seas.wd),
    st AS (
      SELECT event_type, VAR_POP(r) AS vr, VAR_POP(dt) AS vd
      FROM rem GROUP BY 1)
    SELECT seas.event_type,
           CAST(wd AS INTEGER) AS weekday,
           CAST(n_days AS BIGINT) AS n_days,
           ROUND(1e-9 + seasonal, 4) AS seasonal,
           ROUND(1e-9 + GREATEST(0, 1 - vr / vd), 4)
             AS seasonal_strength
    FROM seas JOIN st ON seas.event_type = st.event_type
    """,
)
def q_seasonal_decompose_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive seasonal decomposition (statsmodels
    ``seasonal_decompose``, period=7) of the per-type daily value
    series: trend = centered 7-day moving average (full windows only),
    seasonal = zero-centered weekday means of the detrended series,
    plus Hyndman's seasonal-strength statistic
    max(0, 1 - var(remainder)/var(detrended)) — the decomposition
    underlying weekday_seasonality_index (ratio-to-average) and
    anomaly_seasonal_adjusted, made explicit.

    Scale shape: the only corpus-sized work is the daily pre-aggregate;
    everything after runs on (types x days) rows with windows
    PARTITIONED BY event_type — one hash exchange, each series sorts
    independently, no global sort.  Output is (types x 7) rows."""
    ev = read_sf_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum("value").alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    t = daily.select(
        "event_type",
        "day",
        "v",
        F.avg("v").over(w).alias("ma"),
        F.count(F.lit(1)).over(w).alias("wn"),
    ).where(F.col("wn") == 7)
    det = t.select(
        "event_type",
        F.weekday("day").alias("wd"),
        (F.col("v") - F.col("ma")).alias("dt"),
    )
    wdm = det.groupBy("event_type", "wd").agg(
        F.avg("dt").alias("m"), F.count(F.lit(1)).alias("n_days")
    )
    ctr = wdm.groupBy("event_type").agg(F.avg("m").alias("mm"))
    seas = wdm.join(ctr, "event_type").select(
        "event_type",
        "wd",
        "n_days",
        (F.col("m") - F.col("mm")).alias("seasonal"),
    )
    rem = det.join(seas.select("event_type", "wd", "seasonal"),
                   ["event_type", "wd"]).select(
        "event_type",
        "dt",
        (F.col("dt") - F.col("seasonal")).alias("r"),
    )
    st = rem.groupBy("event_type").agg(
        F.var_pop("r").alias("vr"), F.var_pop("dt").alias("vd")
    )
    return seas.join(st, "event_type").select(
        "event_type",
        F.col("wd").cast("int").alias("weekday"),
        F.col("n_days").cast("bigint").alias("n_days"),
        r4(F.col("seasonal")).alias("seasonal"),
        r4(
            F.greatest(F.lit(0.0), 1 - F.col("vr") / F.col("vd"))
        ).alias("seasonal_strength"),
    )
