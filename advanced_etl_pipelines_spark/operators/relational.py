"""Relational operators (SURVEY.md §2.2 projections / §2.3 aggregations).

Each function is a pure ``DataFrame -> DataFrame`` composition of built-in
operators, shaped so Catalyst keeps pushdown/pruning and the physical plan
is the one you'd want at 100 TB:

* every groupBy here is a hash aggregate with automatic partial (map-side)
  aggregation — no ``collect()`` loops like the reference's per-city Python
  loop (`ETL_Multi_Lvl_API/etl_analysis.py:307-323`);
* pivots always receive an explicit value list so Spark skips the extra
  distinct-scan job and the output schema is stable (the reference's
  pandas ``pivot_table`` emits observed columns, which caused real schema
  drift — SURVEY.md §1.3);
* argmax/top-N get deterministic tie-breakers (pandas ``idxmax`` is
  first-index-wins, which is row-order dependent; at scale row order is not
  reproducible, so we pin ties by key).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_schema(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """P9 schema padding: add any missing expected column as typed NULL
    (`ETL_Multi_Lvl_API/transform.py:204-206`, `load.py:78-81`)."""
    existing = set(df.columns)
    to_add = {
        name: F.lit(None).cast(dtype)
        for name, dtype in columns.items()
        if name not in existing
    }
    return df.withColumns(to_add) if to_add else df


def dedup_mean(df: DataFrame, keys: Sequence[str], value_cols: Sequence[str]) -> DataFrame:
    """A1: collapse duplicate readings per key by mean
    (`ETL_Multi_Lvl_API/transform.py:259-262`).

    One shuffle on ``keys``; partial aggregation halves shuffle volume
    before the exchange. pandas ``mean`` skips NaN == Spark ``avg`` skips
    NULL, so semantics align without special-casing.
    """
    return df.groupBy(*keys).agg(*[F.avg(c).alias(c) for c in value_cols])


def pivot_avg(
    df: DataFrame,
    keys: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    value_col: str,
) -> DataFrame:
    """A2 long->wide pivot with mean aggfunc
    (`ETL_Multi_Lvl_API/transform.py:196-202`).  Explicit ``pivot_values``
    keeps one job and a fixed schema."""
    return (
        df.groupBy(*keys)
        .pivot(pivot_col, list(pivot_values))
        .agg(F.avg(value_col))
    )


def crosstab_counts(
    df: DataFrame,
    key: str,
    class_col: str,
    classes: Sequence[str],
    total_name: str = "total",
    pct_prefix: str = "pct_",
) -> DataFrame:
    """A3 pivot-count crosstab + row totals + percentage columns
    (`ETL_Multi_Lvl_API/etl_analysis.py:230-245`).

    pandas ``unstack(fill_value=0)`` -> pivot-count + ``na.fill(0)``.
    """
    wide = (
        df.groupBy(key)
        .pivot(class_col, list(classes))
        .count()
        .na.fill(0, subset=list(classes))
    )
    total = None
    for c in classes:
        total = F.col(c) if total is None else total + F.col(c)
    wide = wide.withColumn(total_name, total)
    for c in classes:
        wide = wide.withColumn(
            f"{pct_prefix}{_slug(c)}",
            F.col(c) * 100.0 / F.col(total_name),
        )
    return wide


def _slug(name: str) -> str:
    return name.lower().replace(" ", "_").replace("-", "_")


def argmax_group_avg(
    df: DataFrame, group_col: str, value_col: str, out_value_name: str | None = None
) -> DataFrame:
    """A4/A5/A6 argmax-over-group-aggregate (top-1)
    (`ETL_Multi_Lvl_API/etl_analysis.py:171-215`).

    pandas ``idxmax`` tie-breaks by first index in group order — not
    reproducible under parallelism, so we pin ties with ``asc(group_col)``.
    The orderBy+limit(1) compiles to TakeOrderedAndProject: no global sort,
    each partition keeps 1 row.
    """
    out = out_value_name or f"avg_{value_col}"
    return (
        df.groupBy(group_col)
        .agg(F.avg(value_col).alias(out))
        .orderBy(F.desc(out), F.asc(group_col))
        .limit(1)
    )


def value_counts_pct(
    df: DataFrame, col: str, classes: Sequence[str] | None = None
) -> DataFrame:
    """A7 value-counts -> percentage distribution
    (`ETL_Multi_Lvl_API/etl_analysis.py:193-198`).

    With ``classes`` given, absent classes appear with count 0 / pct 0.0
    (the reference emits 0 for missing risk classes).  The percent uses a
    window over the single-row total — one extra exchange over a tiny
    aggregate, not over the fact table.
    """
    counts = df.groupBy(F.col(col).alias(col)).agg(F.count(F.lit(1)).alias("cnt"))
    if classes is not None:
        spark = df.sparkSession
        cls = spark.createDataFrame([(c,) for c in classes], [col])
        counts = (
            F.broadcast(cls)
            .join(counts, on=col, how="left")
            .na.fill({"cnt": 0})
        )
    from pyspark.sql.window import Window

    total = F.sum("cnt").over(Window.partitionBy())
    return counts.withColumn("pct", F.col("cnt") * 100.0 / total)


def resample_avg(
    df: DataFrame,
    ts_col: str,
    every: str,
    keys: Sequence[str],
    value_col: str,
    bucket_name: str = "bucket",
) -> DataFrame:
    """A13 time-bucket resample (`ETL_Multi_Lvl_API/etl_analysis.py:308-320`).

    pandas does a per-city Python loop with ``resample("h")``; here one
    grouped pass over (keys, window) covers all series.  Empty buckets are
    not materialized (they only mattered for the reference's plot x-axis).
    """
    w = F.window(F.col(ts_col), every)
    return (
        df.groupBy(*keys, w.alias("w"))
        .agg(F.avg(value_col).alias(f"avg_{value_col}"),
             F.count(F.lit(1)).alias("cnt"))
        .select(*keys, F.col("w.start").alias(bucket_name),
                f"avg_{value_col}", "cnt")
    )


def histogram(df: DataFrame, col: str, nbins: int) -> DataFrame:
    """A14 equal-width histogram (`ETL_Multi_Lvl_API/etl_analysis.py:266-275`
    bins=40; `ETL_Weather_API/etl_analysis.py:134-142` bins=30).

    Two jobs: (1) min/max aggregate (tiny, broadcast), (2) bucket-index
    groupBy.  The bucket expression stays in codegen; no RDD.histogram.
    Max value is clamped into the last bucket (matplotlib's right-inclusive
    final bin).
    """
    c = F.col(col).cast("double")
    bounds = df.where(c.isNotNull()).agg(
        F.min(c).alias("lo"), F.max(c).alias("hi")
    )
    with_bounds = df.where(c.isNotNull()).crossJoin(F.broadcast(bounds))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(nbins))
    bucket = F.least(
        F.floor((c - F.col("lo")) / width).cast("int"), F.lit(nbins - 1)
    )
    return (
        with_bounds.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def global_summary(
    df: DataFrame, ts_col: str, avg_cols: Sequence[str]
) -> DataFrame:
    """A8 one-row global summary: count, time range, means
    (`ETL_Weather_API/etl_analysis.py:107-114`)."""
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.min(ts_col).alias("time_min"),
        F.max(ts_col).alias("time_max"),
    ] + [F.avg(c).alias(f"{c}_mean") for c in avg_cols]
    return df.agg(*aggs)


def union_all(*dfs: DataFrame) -> DataFrame:
    """A17 concat with schema alignment
    (`ETL_Multi_Lvl_API/transform.py:242` ``pd.concat``)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def histogram2d(
    df: DataFrame, xcol: str, ycol: str, nx: int, ny: int
) -> DataFrame:
    """2-D equal-width histogram — the scalable form of the reference's
    sampled scatter plot (S13, `ETL_Multi_Lvl_API/etl_analysis.py:336`
    caps the scatter at 2,000 rows "for performance"; binning aggregates
    ALL rows into nx*ny cells instead, so density survives any scale).

    Same two-job shape as ``histogram``: one tiny min/max aggregate for
    both axes, broadcast; then one codegen bucket groupBy."""
    x = F.col(xcol).cast("double")
    y = F.col(ycol).cast("double")
    filtered = df.where(x.isNotNull() & y.isNotNull())
    bounds = filtered.agg(
        F.min(x).alias("xlo"),
        F.max(x).alias("xhi"),
        F.min(y).alias("ylo"),
        F.max(y).alias("yhi"),
    )
    wb = filtered.crossJoin(F.broadcast(bounds))
    xw = (F.col("xhi") - F.col("xlo")) / F.lit(float(nx))
    yw = (F.col("yhi") - F.col("ylo")) / F.lit(float(ny))
    # degenerate-range guard: a constant axis (hi == lo) would make the
    # divide NULL for every row and silently collapse the histogram into
    # one null cell — put all rows in bucket 0 instead (ADVICE.md).
    xb = F.when(F.col("xhi") > F.col("xlo"), F.least(
        F.floor((x - F.col("xlo")) / xw).cast("int"), F.lit(nx - 1)
    )).otherwise(F.lit(0))
    yb = F.when(F.col("yhi") > F.col("ylo"), F.least(
        F.floor((y - F.col("ylo")) / yw).cast("int"), F.lit(ny - 1)
    )).otherwise(F.lit(0))
    return (
        wb.withColumn("xbucket", xb)
        .withColumn("ybucket", yb)
        .groupBy("xbucket", "ybucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def maintain_additive_agg(
    base_agg: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Incremental view maintenance for additive aggregates (the
    delta-propagation rule of Blakeley et al. 1986 / the Differential
    Dataflow sum algebra): given the CURRENT aggregate state
    ``base_agg`` (one row per key, the ``sum_cols`` totals) and a
    signed changelog delta (same columns; retractions carry negative
    contributions), produce the refreshed aggregate WITHOUT touching
    the base fact table.

    Plan shape: one hash aggregate over the delta (delta-sized, the
    whole point), then a full-outer join on the group key against the
    base state and a coalesced sum per measure.  Groups whose row-count
    measure nets to zero disappear (the group-deletion case callers
    must not forget) — callers pass the count measure in ``sum_cols``
    and filter on it.  At 100 TB the base state is a bucketed table on
    ``keys`` and the refresh is a delta-sized co-located merge — the
    fact table is never rescanned; this is exactly the update path a
    MERGE-maintained materialized view runs per micro-batch.

    Returns one row per surviving key with refreshed ``sum_cols``.
    """
    d_agg = delta.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )
    b = base_agg.select(
        *keys, *[F.col(c).alias(f"__b_{c}") for c in sum_cols]
    )
    d = d_agg.select(
        *keys, *[F.col(c).alias(f"__d_{c}") for c in sum_cols]
    )
    merged = b.join(d, list(keys), "full_outer")
    return merged.select(
        *keys,
        *[
            (
                F.coalesce(F.col(f"__b_{c}"), F.lit(0))
                + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
            ).alias(c)
            for c in sum_cols
        ],
    )
