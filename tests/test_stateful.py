"""applyInPandasWithState operators: cross-batch state correctness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.sources.readers import read_sf_table
from advanced_etl_pipelines_spark.streaming.stateful import (
    running_user_stats,
    sessionize_stream,
)
from advanced_etl_pipelines_spark.streaming.windows import file_event_stream
from conftest import run_available_now

SF = "/root/testdata/sf0.001"


def test_running_user_stats_accumulates_across_batches(spark, tmp_path):
    """Split events over several micro-batches; the LAST update per user
    must equal the plain batch aggregate."""
    events = read_sf_table(spark, SF, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "landing")
    # 4 files -> maxFilesPerTrigger=1 -> 4 micro-batches
    events.repartition(4).write.parquet(src)

    stream = file_event_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    run_available_now(running_user_stats(stream), "running_stats")

    # memory sink in update mode appends each emission; take the max
    # n_events per user = final state
    got = (
        spark.sql("SELECT * FROM running_stats")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"))
        .collect()
    )
    want = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r["user_id"]: r["n"] for r in got} == want


def test_sessionize_stream_matches_batch_session_count(spark, tmp_path):
    """Closed+open sessions from the stateful operator must match the
    batch LAG/running-sum sessionization for single-batch input."""
    events = read_sf_table(spark, SF, "events").select("user_id", "ts")
    src = str(tmp_path / "landing")
    events.coalesce(1).write.parquet(src)

    stream = file_event_stream(spark, src, spark.read.parquet(src).schema)
    run_available_now(
        sessionize_stream(stream, gap_seconds=1800, timeout_ms=3000), "sessions"
    )

    got = (
        spark.sql(
            "SELECT user_id, COUNT(DISTINCT session_start) AS n "
            "FROM sessions GROUP BY user_id"
        )
        .collect()
    )
    # batch twin
    from pyspark.sql.window import Window

    from advanced_etl_pipelines_spark.functions.features import epoch_seconds

    w = Window.partitionBy("user_id").orderBy("ts")
    ts_s = epoch_seconds("ts")
    gap = ts_s - F.lag(ts_s).over(w)
    want = {
        r["user_id"]: r["n"]
        for r in events.withColumn(
            "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n"))
        .collect()
    }
    assert {r["user_id"]: r["n"] for r in got} == want


def test_sessionize_gap_splits_sessions(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),   # same session
        (1, "2024-01-01 02:00:00"),   # > 30 min gap -> new session
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, t string").select(
        "user_id", F.to_timestamp("t").alias("ts")
    )
    src = str(tmp_path / "landing")
    df.coalesce(1).write.parquet(src)
    stream = file_event_stream(spark, src, spark.read.parquet(src).schema)
    run_available_now(
        sessionize_stream(stream, gap_seconds=1800, timeout_ms=3000), "gap_sessions"
    )
    out = spark.sql("SELECT * FROM gap_sessions").collect()
    # a fired processing-time timeout may re-emit the open session as
    # closed, so assert over distinct sessions, not raw emissions
    u1 = {}
    for r in out:
        if r["user_id"] == 1:
            u1.setdefault(r["session_start"], []).append(r)
    assert len(u1) == 2
    first, second = (u1[k] for k in sorted(u1))
    assert any(r["closed"] and r["n_events"] == 2 for r in first)
    assert all(r["n_events"] == 1 for r in second)
    u2 = {r["session_start"] for r in out if r["user_id"] == 2}
    assert len(u2) == 1
