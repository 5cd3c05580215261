"""Z-order layout: interleaving correctness and the pruning win it
exists for — a 2-D box predicate over a z-clustered write must touch a
small fraction of the files that a value-shuffled write touches.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.operators.scale import (
    write_zorder_layout,
    zorder_value,
)


def test_zorder_value_interleaves_known_bits(spark):
    """bits=2 over [0,4) quantizes each coord to one of 4 levels, then
    interleaves them as y1 x1 y0 x0."""
    df = spark.createDataFrame([(2.0, 1.0)], ["x", "y"])
    z = df.select(
        zorder_value(["x", "y"], [0.0, 0.0], [4.0, 4.0], 2).alias("z")
    ).first()
    # bucket(2.0 over [0,4), 3 levels) = floor(2/4*3)=1 -> 0b01
    # bucket(1.0) = floor(1/4*3)=0 -> 0b00 ; morton(x=01, y=00) = 0b0001
    assert z.z == 1


def test_zorder_locality_beats_shuffled_layout(spark, tmp_path):
    """The whole point: a centered 2-D box filter on the z-ordered
    layout touches <= half the files the hash-shuffled layout does."""
    n = 20_000
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 141 * 7919 % 1000).cast("double").alias("x"),
        (F.col("id") % 163 * 6007 % 1000).cast("double").alias("y"),
    )
    zpath = str(tmp_path / "zordered")
    rpath = str(tmp_path / "shuffled")
    write_zorder_layout(df, zpath, ["x", "y"], n_files=16)
    df.repartition(16, "id").write.mode("overwrite").parquet(rpath)

    pred = (
        (F.col("x") >= 400) & (F.col("x") < 500)
        & (F.col("y") >= 400) & (F.col("y") < 500)
    )

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .where(pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    z_files, r_files = files_touched(zpath), files_touched(rpath)
    # same rows either way
    assert (
        spark.read.parquet(zpath).where(pred).count()
        == spark.read.parquet(rpath).where(pred).count()
    )
    assert z_files * 2 <= r_files, (z_files, r_files)


def test_dynamic_partition_pruning_on_date_partitioned_fact(
    spark, tmp_path
):
    """Dynamic partition pruning: a fact table PARTITIONED BY month,
    joined to a dim filtered at runtime, must scan only the partitions
    the dim's keys select — the plan carries a dynamicpruning
    subquery on the partition column instead of a full scan.  This is
    the mechanism that makes star joins over a date-partitioned 100 TB
    fact read days, not years; pinned here so a conf regression or a
    partition-column type change can't silently turn it off."""
    from advanced_etl_pipelines_spark.sources.readers import read_sf_table

    o = read_sf_table(spark, "/root/testdata/sf0.001", "orders")
    fact = o.withColumn(
        "omonth", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = str(tmp_path / "fact_by_month")
    fact.write.partitionBy("omonth").parquet(path)
    f = spark.read.parquet(path)
    # runtime-filtered dim: months of 1995 only, not a literal IN list
    dim = (
        fact.select("omonth")
        .distinct()
        .where(F.col("omonth").startswith("1995"))
    )
    joined = f.join(dim, "omonth").groupBy("omonth").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {r["omonth"] for r in joined.collect()}
    assert got and all(m.startswith("1995") for m in got)
