"""Streaming surface tests: batch/stream parity, late-data upsert
convergence, rate-source smoke."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.sources.readers import read_sf_table
from advanced_etl_pipelines_spark.streaming.windows import (
    file_event_stream,
    start_upsert_stream,
    windowed_event_stats,
)
from conftest import drain

SF = "/root/testdata/sf0.001"


def test_stream_equals_batch(spark, tmp_path):
    """availableNow file stream through the windowed agg + upsert sink
    must produce exactly the batch result (row-for-row)."""
    events = read_sf_table(spark, SF, "events")
    src = str(tmp_path / "landing")
    events.write.parquet(src)

    batch = windowed_event_stats(read_sf_table(spark, SF, "events"))
    expected = {tuple(r) for r in batch.collect()}

    stream = file_event_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=4
    )
    out = str(tmp_path / "out")
    q = start_upsert_stream(
        windowed_event_stats(stream),
        out,
        ["window_start", "window_end", "event_type"],
        str(tmp_path / "ckpt"),
    )
    drain(q)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == expected
    assert len(got) > 0


def test_late_data_converges(spark, tmp_path):
    """A late row arriving in a second micro-batch must update the
    already-written window (upsert semantics, not append duplicates)."""
    schema = "ts timestamp, event_type string, value double"
    src = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = spark.createDataFrame(
        [("2024-01-01 00:10:00", "click", 1.0), ("2024-01-01 00:20:00", "click", 3.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    first.write.mode("append").parquet(src)

    def run_once():
        stream = file_event_stream(spark, src, spark.read.parquet(src).schema)
        q = start_upsert_stream(
            windowed_event_stats(stream, watermark_delay="1 hour"),
            out,
            ["window_start", "window_end", "event_type"],
            ckpt,
        )
        drain(q)

    run_once()
    got1 = spark.read.parquet(out).collect()
    assert len(got1) == 1 and got1[0]["n_events"] == 2

    # late row for the SAME window lands later
    late = spark.createDataFrame(
        [("2024-01-01 00:30:00", "click", 5.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    late.write.mode("append").parquet(src)
    run_once()

    got2 = spark.read.parquet(out).collect()
    assert len(got2) == 1
    assert got2[0]["n_events"] == 3
    assert abs(got2[0]["sum_value"] - 9.0) < 1e-9


def test_rate_source_smoke(spark, tmp_path):
    """Rate source → window agg → memory sink runs and emits rows."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 100).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).cast("string").alias("event_type"),
            F.col("value").cast("double").alias("value"),
        )
    )
    agg = windowed_event_stats(stream, window_duration="2 seconds", watermark_delay="0 seconds")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("rate_smoke")
        .start()
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT COUNT(*) FROM rate_smoke").first()[0]
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0
    finally:
        q.stop()


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    from advanced_etl_pipelines_spark.streaming.windows import (
        enrich_with_static,
        file_event_stream,
    )

    ev = read_sf_table(spark, SF, "events")
    # static per-user feature table derived from history
    feats = ev.groupBy("user_id").agg(
        F.avg("value").alias("u_avg"), F.count(F.lit(1)).alias("u_n")
    )

    src = str(tmp_path / "src")
    ev.limit(500).write.parquet(src)
    stream = file_event_stream(spark, src, ev.schema)
    enriched = enrich_with_static(stream, feats, ["user_id"])
    agg = enriched.groupBy("event_type").agg(
        F.round(F.sum(F.col("value") * F.col("u_avg")), 4).alias("wsum"),
        F.count(F.lit(1)).alias("n"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("enrich_t")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.event_type: (r.wsum, r.n)
            for r in spark.sql("select * from enrich_t").collect()
        }
    finally:
        q.stop()

    batch = (
        spark.read.schema(ev.schema).parquet(src)
        .join(feats, "user_id")
        .groupBy("event_type")
        .agg(
            F.round(F.sum(F.col("value") * F.col("u_avg")), 4).alias("wsum"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    want = {r.event_type: (r.wsum, r.n) for r in batch.collect()}
    assert got == want


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Native session_window aggregation on an availableNow file stream:
    append mode emits exactly the sessions the final watermark closed,
    and each emitted row matches the batch result."""
    from advanced_etl_pipelines_spark.streaming.windows import (
        session_window_stats,
    )

    events = read_sf_table(spark, SF, "events")
    src = str(tmp_path / "landing")
    events.write.parquet(src)

    batch = session_window_stats(
        read_sf_table(spark, SF, "events"), gap_seconds=1800
    ).collect()
    expected = {tuple(r) for r in batch}

    # Append mode only emits sessions whose window end (last event +
    # gap) is behind the final watermark (global max ts - delay).
    max_ts = read_sf_table(spark, SF, "events").agg(
        F.max(F.col("ts").cast("timestamp").cast("double"))
    ).collect()[0][0]
    closed = {
        tuple(r)
        for r in batch
        if r["session_start"].timestamp() + r["active_s"] + 1800
        < max_ts - 600
    }

    stream = file_event_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=4
    )
    out = str(tmp_path / "out")
    q = start_upsert_stream(
        session_window_stats(stream, gap_seconds=1800),
        out,
        ["user_id", "session_start"],
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    drain(q)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got <= expected, "stream emitted a session batch never saw"
    assert closed <= got, "a watermark-closed session was never emitted"
    assert len(got) > 0


def test_medallion_stream_idempotent_rollup(spark, tmp_path):
    """Bronze + recompute-touched-days silver rollup: the final rollup
    equals a batch recompute over all events, and re-running the whole
    stream from a fresh checkpoint (simulated redelivery of every
    batch) leaves the rollup unchanged."""
    from advanced_etl_pipelines_spark.streaming.windows import (
        start_medallion_stream,
    )

    events = read_sf_table(spark, SF, "events")
    src = str(tmp_path / "landing")
    events.write.parquet(src)

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")

    def run(ckpt: str) -> None:
        stream = file_event_stream(
            spark, src, spark.read.parquet(src).schema,
            max_files_per_trigger=4,
        )
        q = start_medallion_stream(
            stream, bronze, silver, str(tmp_path / ckpt)
        )
        drain(q)

    run("ckpt1")
    want = {
        (r["d"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in events.groupBy(
            F.to_date(F.col("ts").cast("timestamp")).alias("d"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    got1 = {
        (r["d"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in spark.read.parquet(silver).collect()
    }
    assert got1 == want

    # full redelivery: fresh checkpoint replays every batch
    run("ckpt2")
    got2 = {
        (r["d"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in spark.read.parquet(silver).collect()
    }
    assert got2 == want


def test_session_window_stats_value_col_parameterized(spark):
    """value_col is part of the signature: a custom column sums, and
    None yields count-only sessions for payload-less sources
    (ADVICE.md)."""
    from advanced_etl_pipelines_spark.streaming.windows import (
        session_window_stats,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 2.5), (1, "2024-01-01 00:10:00", 1.5)],
        "user_id long, ts string, amount double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = session_window_stats(df, value_col="amount").collect()
    assert len(out) == 1 and out[0]["sum_value"] == 4.0
    no_val = session_window_stats(df.drop("amount"), value_col=None)
    assert "sum_value" not in no_val.columns
    assert no_val.collect()[0]["n_events"] == 2


def test_medallion_stream_recovers_from_mid_batch_kill(
    spark, tmp_path, monkeypatch
):
    """Round-4 VERDICT item 5 — crash-recovery, not just redelivery:
    kill the medallion stream MID-BATCH (after that batch's bronze
    overwrite landed, before its silver upsert committed — the worst
    interleaving), restart from the SAME checkpoint, and assert the
    silver rollup is exactly-once.  Bronze must also hold each event
    exactly once: the replayed batch re-lands under the same
    ``batch=<id>/`` directory with mode overwrite, so the half-finished
    first attempt is replaced, never duplicated."""
    from advanced_etl_pipelines_spark.sources import sinks as sinks_mod
    from advanced_etl_pipelines_spark.streaming.windows import (
        start_medallion_stream,
    )

    events = read_sf_table(spark, SF, "events")
    src = str(tmp_path / "landing")
    # 8 landing files / maxFilesPerTrigger=4 -> 2 micro-batches, so the
    # kill can land strictly AFTER one fully-committed batch
    events.repartition(8).write.parquet(src)

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = file_event_stream(
            spark, src, spark.read.parquet(src).schema,
            max_files_per_trigger=4,
        )
        return start_medallion_stream(stream, bronze, silver, ckpt)

    # Crash injection: the sink writes bronze first, then upserts
    # silver — raising inside upsert_parquet on the SECOND batch means
    # batch 0 commits fully, batch 1 dies with its bronze written but
    # its silver (and its checkpoint offset) uncommitted.
    real_upsert = sinks_mod.upsert_parquet
    calls = {"n": 0}

    def dying_upsert(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected mid-batch crash")
        return real_upsert(*args, **kwargs)

    monkeypatch.setattr(sinks_mod, "upsert_parquet", dying_upsert)
    q = start()
    with pytest.raises(Exception):
        q.awaitTermination()
    assert not q.isActive
    assert calls["n"] == 2, "crash must hit the second batch's upsert"

    # restart from the same checkpoint with the real sink
    monkeypatch.setattr(sinks_mod, "upsert_parquet", real_upsert)
    drain(start())

    want = {
        (r["d"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in events.groupBy(
            F.to_date(F.col("ts").cast("timestamp")).alias("d"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    got = {
        (r["d"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in spark.read.parquet(silver).collect()
    }
    assert got == want, "silver rollup must be exactly-once after restart"
    # bronze holds every event exactly once (the killed batch's first
    # attempt was overwritten by its replay, not duplicated)
    assert spark.read.parquet(bronze).count() == events.count()
