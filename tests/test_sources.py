"""S1/S2/S3 HTTP extract + S9 catalog tests — injectable transport, no
network, no requests dependency."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest

from advanced_etl_pipelines_spark.sources import http as H
from advanced_etl_pipelines_spark.sources.catalog import (
    AIR_QUALITY_TABLE_COLUMNS,
    create_table_if_not_exists,
    jdbc_reader,
)


def _ok(payload):
    return lambda url, params, timeout: (200, json.dumps(payload))


def test_fetch_retries_with_exponential_backoff():
    calls, sleeps = [], []
    def flaky(url, params, timeout):
        calls.append(url)
        if len(calls) < 3:
            raise ConnectionError("boom")
        return 200, json.dumps({"ok": 1})

    out = H.fetch_with_retry(
        "http://x", transport=flaky, sleep=sleeps.append
    )
    assert out == {"ok": 1}
    assert len(calls) == 3
    assert sleeps == [1, 2]  # 2^(n-1) seconds


def test_fetch_gives_up_after_max_retries():
    def always_500(url, params, timeout):
        return 500, "err"

    with pytest.raises(RuntimeError, match="after 3 attempts"):
        H.fetch_with_retry("http://x", transport=always_500, sleep=lambda s: None)


def test_fetch_non_json_falls_back_to_text():
    def text_body(url, params, timeout):
        return 200, "plain text not json"

    assert H.fetch_with_retry("http://x", transport=text_body) == "plain text not json"


def test_fetch_many_politeness_sleep_and_continue_on_failure():
    sleeps = []
    def transport(url, params, timeout):
        if "bad" in url:
            raise ConnectionError("down")
        return 200, json.dumps({"u": url})

    out = H.fetch_many(
        [("a", "http://a", {}), ("bad", "http://bad", {}), ("c", "http://c", {})],
        transport=transport,
        sleep=sleeps.append,
        max_retries=1,
    )
    assert [n for n, _ in out] == ["a", "bad", "c"]
    assert out[1][1] is None and out[2][1] == {"u": "http://c"}
    assert sleeps.count(0.5) == 2  # between calls, not before the first


def test_land_raw_json_timestamped_and_txt_fallback(tmp_path):
    now = datetime(2025, 12, 11, 8, 31, 42, tzinfo=timezone.utc)
    p = H.land_raw_json({"hourly": {"time": []}}, str(tmp_path), "mumbai", now=now)
    assert p.endswith("mumbai_raw_20251211T083142Z.json")
    assert json.load(open(p)) == {"hourly": {"time": []}}
    p2 = H.land_raw_json({1, 2}, str(tmp_path), "odd", now=now)  # set: not JSON
    assert p2.endswith(".txt")


def test_fetch_land_parse_roundtrip(spark, tmp_path):
    """Fetched payload → raw zone → the AQ pipeline parser: end-to-end
    extract semantics without network."""
    from advanced_etl_pipelines_spark.pipelines import air_quality as aq

    payload = {
        "hourly": {
            "time": ["2025-12-11T00:00", "2025-12-11T01:00"],
            "pm2_5": [10.0, 310.5],
            "pm10": [20.0, None],
        }
    }
    fetched = H.fetch_many(
        [("delhi", "http://api", {})], transport=_ok(payload), sleep=lambda s: None
    )
    H.land_raw_json(fetched[0][1], str(tmp_path), "delhi")
    staged = aq.transform(aq.parse_raw(aq.read_raw(spark, str(tmp_path))))
    rows = {r["time"].hour: r for r in staged.collect()}
    assert rows[0]["city"] == "delhi" and rows[0]["aqi_pm25"] == "Good"
    assert rows[1]["aqi_pm25"] == "Hazardous"
    assert rows[1]["pm10"] is None


def test_payloads_to_df_infers_schema(spark):
    df = H.payloads_to_df(
        spark,
        [("d", {"hourly": {"time": ["t0"], "pm2_5": [4.2]}}), ("skip", None)],
    )
    row = df.first()
    assert row["_fetch_name"] == "d"
    assert row["hourly"]["pm2_5"] == [4.2]


def test_create_table_if_not_exists(spark, tmp_path):
    create_table_if_not_exists(
        spark,
        "aq_test_tbl",
        AIR_QUALITY_TABLE_COLUMNS,
        location=str(tmp_path / "tbl"),
    )
    try:
        cols = {f.name for f in spark.table("aq_test_tbl").schema.fields}
        assert {"city", "time", "severity", "risk_class"} <= cols
        # idempotent
        create_table_if_not_exists(
            spark, "aq_test_tbl", AIR_QUALITY_TABLE_COLUMNS,
            location=str(tmp_path / "tbl"),
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS aq_test_tbl")


def test_jdbc_reader_option_validation(spark):
    with pytest.raises(ValueError, match="exactly one"):
        jdbc_reader(spark, "jdbc:postgresql://h/db")
    with pytest.raises(ValueError, match="exactly one"):
        jdbc_reader(spark, "jdbc:x", table="t", query="SELECT 1")
    with pytest.raises(ValueError, match="requires"):
        jdbc_reader(spark, "jdbc:x", table="t", partition_column="id")
    with pytest.raises(ValueError, match="requires table"):
        jdbc_reader(
            spark, "jdbc:x", table="t", limit=10,  # limit rewrites to query
            partition_column="id", num_partitions=8, lower_bound=0, upper_bound=9,
        )
    # configured readers build without contacting a database
    assert jdbc_reader(
        spark, "jdbc:postgresql://h/db", table="weather_data",
        partition_column="id", num_partitions=8, lower_bound=0, upper_bound=1000,
    ) is not None
    assert jdbc_reader(
        spark, "jdbc:postgresql://h/db", table="weather_data", limit=10
    ) is not None


def test_sql_front_door_matches_dataframe_plan(spark):
    from pyspark.sql import functions as F

    from advanced_etl_pipelines_spark.sources import readers as RD

    SF = "/root/testdata/sf0.001"

    out = RD.sql(
        spark,
        SF,
        """
        SELECT l_returnflag, COUNT(*) AS cnt,
               ROUND(SUM(l_extendedprice), 2) AS rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        GROUP BY l_returnflag
        """,
    )
    df = (
        RD.read_sf_table(spark, SF, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, df.collect())
    )
    # events view must inherit the nanos-safe reader
    got = RD.sql(spark, SF, "SELECT COUNT(*) AS n FROM events").first().n
    assert got == RD.read_sf_table(spark, SF, "events").count()


def test_sql_binds_the_tables_it_reads_for_one_call(spark):
    """Tables come from the parsed plan (CTE bodies and subqueries too,
    string literals and CTE names not), each call binds its own sf, and
    the caller's temp views are left as they were."""
    import os

    from advanced_etl_pipelines_spark.sources import readers as RD
    from conftest import SF_SMOKE

    sf001 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    text = """
        WITH o AS (SELECT o_custkey FROM orders
                   WHERE o_custkey IN (SELECT c_custkey FROM customer))
        SELECT COUNT(*) AS n, 'lineitem' AS label FROM o
    """
    assert RD.sql_tables(spark, text) == ("customer", "orders")
    spark.range(3).createOrReplaceTempView("orders")
    try:
        small = RD.sql(spark, SF_SMOKE, text)
        big = RD.sql(spark, sf001, text)
        assert small.first().n < big.first().n
        assert spark.table("orders").count() == 3
        assert not spark.catalog.tableExists("customer")
        # cached tables: the second call puts back the view definitions
        # the first call built
        RD.cache_sf_tables(spark, SF_SMOKE, ("orders", "customer"))
        try:
            again = [RD.sql(spark, SF_SMOKE, text).first().n for _ in "ab"]
        finally:
            RD.uncache_sf_tables()
        assert again == [small.first().n] * 2
        assert spark.table("orders").count() == 3
    finally:
        spark.catalog.dropTempView("orders")


def test_python_datasource_partition_parallel_and_deterministic(spark):
    from advanced_etl_pipelines_spark.sources import python_datasource as PDS

    PDS.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 8)
        .load()
    )
    assert df.count() == 1000
    assert df.rdd.getNumPartitions() == 8
    # pure function of the index: different parallelism, same rows
    again = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 3)
        .load()
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, again.collect())
    )
    # schema contract
    assert df.columns == ["event_id", "user_id", "event_type", "value"]
    # generated slice joins cleanly against engine ops (smoke)
    from pyspark.sql import functions as F

    agg = df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert agg.count() == 5


def test_python_datasource_stream_resumes_from_checkpoint(spark, tmp_path):
    from advanced_etl_pipelines_spark.sources import python_datasource as PDS

    PDS.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def one_batch():
        q = (
            spark.readStream.format("synthetic_events")
            .option("rowsPerBatch", 50)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(120)

    one_batch()
    got1 = spark.read.parquet(out).collect()
    assert sorted(r.event_id for r in got1) == list(range(50))

    # restart from the same checkpoint: offsets resume, no replay
    one_batch()
    got2 = spark.read.parquet(out).collect()
    ids = sorted(r.event_id for r in got2)
    assert ids == list(range(100)), "second run must continue at offset 50"
    # rows are the same pure function the batch reader uses
    want = {PDS._row(i) for i in range(100)}
    assert {tuple(r) for r in got2} == want


def test_python_datasource_filter_pushdown(spark):
    from pyspark.sql import functions as F

    from advanced_etl_pipelines_spark.sources import python_datasource as PDS

    PDS.register(spark)  # enables python filter pushdown session-wide
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 2000)
        .load()
        .where(F.col("event_type") == "purchase")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the pushed predicate must be GONE from the residual filter
    assert "purchase" not in plan
    got = sorted(r.event_id for r in df.collect())
    want = sorted(i for i in range(2000) if PDS._row(i)[2] == "purchase")
    assert got == want and len(want) > 0


def test_manifest_json_stream_writer_commits_and_reads_back(spark, tmp_path):
    """The custom sink's two-phase commit: data lands as uniquely-named
    files, the manifest names them, read_committed sees exactly the
    streamed rows — and IGNORES orphan files no manifest claims."""
    import os

    from advanced_etl_pipelines_spark.sources import python_datasource as PDS

    PDS.register(spark)
    out = str(tmp_path / "sink")
    q = (
        spark.readStream.format("synthetic_events")
        .option("rowsPerBatch", 40)
        .load()
        .writeStream.format("manifest_json")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(once=True)
        .start()
    )
    q.awaitTermination(120)

    got = PDS.read_committed(spark, out)
    assert sorted(r.event_id for r in got.collect()) == list(range(40))
    assert [f.name for f in got.schema.fields] == [
        "event_id", "user_id", "event_type", "value",
    ]

    # crash-simulation: an orphan data file with NO manifest entry must
    # stay invisible (a task that died mid-write leaves exactly this)
    with open(os.path.join(out, "part-orphan.jsonl"), "w") as fh:
        fh.write('{"event_id": 99999, "user_id": 1, '
                 '"event_type": "view", "value": 1.0}\n')
    assert PDS.read_committed(spark, out).count() == 40


def test_manifest_json_stream_writer_restart_no_duplicates(spark, tmp_path):
    """Checkpoint restart: batch 1 resumes at the committed offset and
    lands under a NEW manifest — union of manifests has no dups."""
    from advanced_etl_pipelines_spark.sources import python_datasource as PDS

    PDS.register(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def one_batch():
        q = (
            spark.readStream.format("synthetic_events")
            .option("rowsPerBatch", 30)
            .load()
            .writeStream.format("manifest_json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(120)

    one_batch()
    one_batch()
    ids = sorted(
        r.event_id for r in PDS.read_committed(spark, out).collect()
    )
    assert ids == list(range(60)), "restart must continue, not replay"


def test_write_with_metrics_single_pass(spark, tmp_path):
    """Observation metrics accumulate during the write itself and match
    an independent recount."""
    from advanced_etl_pipelines_spark.sources.sinks import write_with_metrics

    df = spark.createDataFrame(
        [(1, "a", None), (2, None, 3.5), (3, "c", 4.0)],
        "id bigint, name string, score double",
    )
    out = str(tmp_path / "t")
    m = write_with_metrics(df, out, null_check_cols=["name", "score"])
    assert m == {"n_rows": 3, "null_name": 1, "null_score": 1}
    back = spark.read.parquet(out)
    assert back.count() == 3


def test_xml_roundtrip_and_corrupt_tolerance(spark, tmp_path):
    """Native XML source: roundtrip preserves rows; a malformed element
    does not fail a PERMISSIVE scan."""
    from advanced_etl_pipelines_spark.sources.readers import (
        read_xml,
        write_xml,
    )

    df = spark.createDataFrame(
        [("delhi", 51.2, 1), ("mumbai", None, 2)],
        "city string, pm2_5 double, hour bigint",
    )
    out = str(tmp_path / "xml")
    write_xml(df, out, row_tag="reading")
    back = read_xml(spark, out, row_tag="reading")
    got = {(r["city"], r["pm2_5"], r["hour"]) for r in back.collect()}
    assert got == {("delhi", 51.2, 1), ("mumbai", None, 2)}


def test_python_udtf_lateral_parse(spark):
    """Python UDTF (Spark 4 API surface): table function exploding a
    k=v;k=v string into rows, used via SQL LATERAL join.  Kept out of
    the benched registry — UDTFs are the Python slow path; this pins
    the API works for the rare genuinely-tabular custom op."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="key string, val string")
    class ParseKV:
        def eval(self, s: str):
            for part in (s or "").split(";"):
                if "=" in part:
                    k, v = part.split("=", 1)
                    yield k.strip(), v.strip()

    spark.udtf.register("parse_kv", ParseKV)
    df = spark.createDataFrame(
        [(1, "a=1;b=2"), (2, "c=3"), (3, None)], "id bigint, s string"
    )
    df.createOrReplaceTempView("kv_src")
    got = {
        (r["id"], r["key"], r["val"])
        for r in spark.sql(
            "SELECT id, key, val FROM kv_src, LATERAL parse_kv(s)"
        ).collect()
    }
    assert got == {(1, "a", "1"), (1, "b", "2"), (2, "c", "3")}


def test_read_evolving_merges_added_column(spark, tmp_path):
    """Files written before a column existed surface it as NULL; the
    merged schema is the superset regardless of file order."""
    from pyspark.sql import functions as F

    from advanced_etl_pipelines_spark.sources.readers import read_evolving

    path = str(tmp_path / "evolving")
    spark.range(5).select("id").write.mode("append").parquet(path)
    spark.range(5, 10).select(
        "id", (F.col("id") * 2).alias("added")
    ).write.mode("append").parquet(path)

    df = read_evolving(spark, path)
    assert set(df.columns) == {"id", "added"}
    rows = {r.id: r.added for r in df.collect()}
    assert len(rows) == 10
    assert all(rows[i] is None for i in range(5))
    assert all(rows[i] == 2 * i for i in range(5, 10))
