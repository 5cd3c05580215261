"""Cross-batch state of ``streaming/stateful.py``'s running counter:
totals that span micro-batches, and exactly-once recovery from a
mid-batch kill.  (The sessionizer's tests live in test_stateful.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.sources.readers import read_sf_table
from advanced_etl_pipelines_spark.streaming.stateful import running_user_stats
from advanced_etl_pipelines_spark.streaming.windows import file_event_stream
from conftest import drain, run_available_now

SF = "/root/testdata/sf0.001"


def test_tws_running_stats_accumulates_across_batches(spark, tmp_path):
    """4 micro-batches; last update per user == plain batch aggregate."""
    events = read_sf_table(spark, SF, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "landing")
    events.repartition(4).write.parquet(src)

    stream = file_event_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    run_available_now(running_user_stats(stream), "tws_running")

    got = (
        spark.sql("SELECT * FROM tws_running")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("sum_value").alias("s"))
        .collect()
    )
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("s"),
        )
        .collect()
    }
    assert {r["user_id"]: (r["n"], round(r["s"], 6)) for r in got} == {
        u: (n, round(s, 6)) for u, (n, s) in want.items()
    }


def test_stateful_processor_recovers_from_mid_batch_kill(spark, tmp_path):
    """Round-6 VERDICT item 5 — the custom-stateful analogue of the
    medallion and interval-join mid-batch-kill tests: kill the query on
    its SECOND micro-batch after the keyed state store committed that
    batch's version but before the offset log did (raise inside
    foreachBatch after the batch's output landed).  Restart from the
    same checkpoint; Spark must replay the dead batch against the
    PREVIOUS state version, so per-user running totals come out exactly
    once — if the replay ran against the already-advanced state, the
    batch-1 rows would double into u1's count/sum and the final-update
    compare below would fail."""
    import datetime as dt

    import pytest

    def ts(minute):
        return dt.datetime(2024, 1, 1, 10, minute, 0)

    f0 = [(1, 1.0, ts(0)), (1, 2.0, ts(1)), (2, 3.0, ts(2))]
    f1 = [(1, 4.0, ts(3)), (3, 5.0, ts(4))]
    schema = "user_id long, value double, ts timestamp"
    src = str(tmp_path / "landing")
    spark.createDataFrame(f0, schema).coalesce(1).write.parquet(src + "/f0")
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src + "/f1")

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    calls = {"n": 0, "die": True}

    def sink(batch_df, batch_id):
        # idempotent by-batch-id landing: a replayed batch REPLACES its
        # own directory, never appends
        batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        calls["n"] += 1
        if calls["die"] and calls["n"] == 2:
            # output written + state committed; offset commit never runs
            raise RuntimeError("injected mid-batch crash")

    def start():
        stream = file_event_stream(
            spark,
            src + "/*",
            spark.read.parquet(src + "/*").schema,
            max_files_per_trigger=1,
        )
        return (
            running_user_stats(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert not q.isActive
    assert q.exception() is not None, "first run must die on batch 2"
    assert calls["n"] == 2

    calls["die"] = False
    drain(start())

    rows = (
        spark.read.option("basePath", out)
        .parquet(out + "/batch=*")
        .collect()
    )
    # final update per user (highest batch id that emitted the user)
    final = {}
    for r in sorted(rows, key=lambda r: r.batch):
        final[r.user_id] = (r.n_events, r.sum_value)
    assert final == {1: (3, 7.0), 2: (1, 3.0), 3: (1, 5.0)}
    # and the u1 batch-1 update appears exactly once across batch dirs
    u1_updates = [r for r in rows if r.user_id == 1]
    assert len(u1_updates) == 2  # one per batch it appeared in
