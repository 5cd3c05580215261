"""Partition-pruned upsert: only touched partitions are rewritten;
partition filters show in the scan plan."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.sources.sinks import (
    upsert_parquet_partitioned,
)


def _aq(spark, city, hours, base_temp=10.0):
    rows = [(city, f"2025-12-11 {h:02d}:00:00", base_temp + h) for h in hours]
    return spark.createDataFrame(
        rows, "city string, t string, pm double"
    ).withColumn("time", F.to_timestamp("t")).drop("t")


def test_partitioned_upsert_only_touches_updated_partitions(spark, tmp_path):
    path = str(tmp_path / "wh")
    first = _aq(spark, "delhi", range(4)).unionByName(
        _aq(spark, "mumbai", range(4))
    )
    upsert_parquet_partitioned(spark, first, path, ["city", "time"], "city")
    assert spark.read.parquet(path).count() == 8

    mumbai_dir = os.path.join(path, "city=mumbai")
    before = sorted(os.listdir(mumbai_dir))

    # update delhi only: 2 overlapping hours + 2 new ones
    delhi2 = _aq(spark, "delhi", range(2, 6), base_temp=100.0)
    upsert_parquet_partitioned(spark, delhi2, path, ["city", "time"], "city")

    after = sorted(os.listdir(mumbai_dir))
    assert before == after  # untouched partition not rewritten

    out = spark.read.parquet(path)
    assert out.count() == 10  # 6 delhi + 4 mumbai
    delhi = {r["time"].hour: r["pm"] for r in out.where("city='delhi'").collect()}
    assert delhi[0] == 10.0 and delhi[1] == 11.0  # kept
    assert delhi[2] == 102.0 and delhi[5] == 105.0  # replaced/new


def test_partitioned_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "wh")
    df = _aq(spark, "delhi", range(4))
    upsert_parquet_partitioned(spark, df, path, ["city", "time"], "city")
    upsert_parquet_partitioned(spark, df, path, ["city", "time"], "city")
    assert spark.read.parquet(path).count() == 4


def test_partition_col_must_be_key(spark, tmp_path):
    df = _aq(spark, "delhi", range(2))
    with pytest.raises(ValueError):
        upsert_parquet_partitioned(
            spark, df, str(tmp_path / "x"), ["time"], "city"
        )


def test_partition_pruning_in_scan_plan(spark, tmp_path):
    """A city filter over the partitioned staged table must show up as a
    PartitionFilters entry, not a data filter."""
    path = str(tmp_path / "wh")
    df = _aq(spark, "delhi", range(4)).unionByName(_aq(spark, "mumbai", range(4)))
    df.write.mode("overwrite").partitionBy("city").parquet(path)
    plan = (
        spark.read.parquet(path)
        .where(F.col("city") == "delhi")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "city" in plan.split("PartitionFilters")[1][:200]


def test_partitioned_upsert_escaped_partition_value(spark, tmp_path):
    """Spark escapes some characters in partition directory names
    (``city=a%3Ab`` for ``a:b``); a second upsert still replaces the
    overlapping hour and adds the new one."""
    path = str(tmp_path / "wh")
    upsert_parquet_partitioned(
        spark, _aq(spark, "a:b", range(2)), path, ["city", "time"], "city"
    )
    upsert_parquet_partitioned(
        spark, _aq(spark, "a:b", range(1, 3), base_temp=100.0), path,
        ["city", "time"], "city",
    )
    assert [d for d in os.listdir(path) if d.startswith("city=")] == ["city=a%3Ab"]
    out = spark.read.parquet(path).collect()
    assert {r["time"].hour: r["pm"] for r in out} == {0: 10.0, 1: 101.0, 2: 102.0}
    assert {r["city"] for r in out} == {"a:b"}


def test_partitioned_upsert_rejects_null_partition_value(spark, tmp_path):
    """The anti join cannot match a NULL key, so a NULL partition value
    would leave the old row beside the new one: the merge raises and the
    table is unchanged."""
    path = str(tmp_path / "wh")
    upsert_parquet_partitioned(
        spark, _aq(spark, "delhi", range(2)), path, ["city", "time"], "city"
    )
    with pytest.raises(ValueError, match="NULL city"):
        upsert_parquet_partitioned(
            spark, _aq(spark, None, range(2)), path, ["city", "time"], "city"
        )
    assert [d for d in os.listdir(path) if d.startswith("city=")] == ["city=delhi"]
    assert spark.read.parquet(path).count() == 2
