"""Time-series operators Spark lacks as built-ins, re-expressed Spark-first.

[extension] — the reference's only time-series work is hourly resampling
(`ETL_Multi_Lvl_API/etl_analysis.py:308-320`) and hour/date bucketing;
these are the general forms a time-series warehouse needs: as-of join,
gap-filled resample, and trailing time-range windows.

Design for 100 TB:

* **As-of join** is NOT implemented as a range join (which explodes to
  pairs before filtering) nor per-key ``collect_list`` (driver-size
  bound).  It is the union-tag trick: tag right rows 0 / left rows 1,
  union, one window ``last_value(payload, ignorenulls) over (partition
  by key order by ts, tag)``, keep left rows.  Exactly ONE shuffle on
  the join key — the same exchange a plain groupBy would pay — and the
  sort is per-partition.  This is how kdb/QuestDB-style `aj` maps onto
  a shuffle engine.
* **Gap-fill resample** materializes the bucket spine with
  ``sequence()`` per group (array of timestamps, exploded) — the spine
  is tiny relative to the fact (buckets × groups), and the fill join is
  a broadcast-able left join.
* **Trailing windows** use ``rangeBetween`` on epoch seconds — Spark
  evaluates RANGE frames with a sliding two-pointer over the sorted
  partition, O(n) amortized, no self-join blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
    prefix: str = "asof_",
    tiebreak: str | Column | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` within the same ``key`` (inclusive, matching
    DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``).  Left rows with no prior
    right row keep NULL payload (left-outer as-of).

    ``right`` must be unique per (key, right_ts); if it may not be,
    pass ``tiebreak`` — the winner among same-(key, ts) right rows is
    the one with the MAX (tiebreak, payload) pair, compared
    lexicographically via ``max_by`` on a struct (ADVICE.md round 2 /
    round 3: ``max_by`` on the tiebreak alone still left rows with
    EQUAL tiebreak values partition-order-dependent; folding the
    payload struct into the comparison key makes the residual ties
    resolve by payload ordering, so the match is fully deterministic
    for any input).  The dedupe rides the same exchange the as-of
    window needs, so it adds an aggregate but no extra shuffle pattern.
    """
    pay = F.struct(*[F.col(c) for c in payload])
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        pay.alias("__pay"),
    )
    if tiebreak is not None:
        tb = F.col(tiebreak) if isinstance(tiebreak, str) else tiebreak
        r = (
            right.select(
                F.col(key).alias("__k"),
                F.col(right_ts).alias("__ts"),
                pay.alias("__pay0"),
                tb.alias("__tb"),
            )
            .groupBy("__k", "__ts")
            .agg(
                F.max_by(
                    "__pay0", F.struct(F.col("__tb"), F.col("__pay0"))
                ).alias("__pay")
            )
            .select("__k", "__ts", F.lit(0).alias("__tag"), "__pay")
        )
    l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(r.schema["__pay"].dataType).alias("__pay"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
    )
    u = r.select(
        "__k", "__ts", "__tag", "__pay", F.lit(None).cast(
            l.schema["__row"].dataType
        ).alias("__row")
    ).unionByName(l)
    # tag 0 < 1 puts a right row at ts==left_ts BEFORE the left row, so
    # last_value sees it (inclusive as-of); within ties the right side
    # must already be unique per (key, ts).
    w = (
        Window.partitionBy("__k")
        .orderBy(F.asc("__ts"), F.asc("__tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn(
        "__m", F.last("__pay", ignorenulls=True).over(w)
    ).where(F.col("__tag") == 1)
    out = matched.select("__row.*", *[
        F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in payload
    ])
    return out


def band_join(
    fact: DataFrame, bands: DataFrame, value: str, lo: str, hi: str
) -> DataFrame:
    """Non-equi join of a fact value into [lo, hi) bands.  The bands side
    is assumed dim-sized and is broadcast — Spark then evaluates this as
    BroadcastNestedLoopJoin, which is fine for dozens-to-thousands of
    bands.  For band tables too large to broadcast, pre-bucket both
    sides on a coarsened key (floor(value / step)) and equi-join on the
    bucket before the range filter."""
    cond = (F.col(value) >= F.col(lo)) & (F.col(value) < F.col(hi))
    return fact.join(F.broadcast(bands), cond, "inner")


def resample_gapfill(
    df: DataFrame,
    group: str,
    ts: str,
    step: str,
    agg: dict[str, Column],
) -> DataFrame:
    """Fixed-step resample per group INCLUDING empty buckets (the part
    `groupBy(window(...))` can't do — pandas ``resample`` emits them as
    NaN, `etl_analysis.py:320`).  Spine = per-group min/max bucket range
    expanded with ``sequence()``; actual aggregates left-join onto it.
    Empty buckets surface with NULL aggregate values."""
    bucket = F.date_trunc(step, F.col(ts))
    actual = df.groupBy(
        F.col(group).alias("g"), bucket.alias("bucket")
    ).agg(*[v.alias(k) for k, v in agg.items()])
    spine = (
        df.groupBy(F.col(group).alias("g"))
        .agg(
            F.min(bucket).alias("lo"),
            F.max(bucket).alias("hi"),
        )
        .select(
            "g",
            F.explode(
                F.sequence("lo", "hi", F.expr(f"INTERVAL 1 {step}"))
            ).alias("bucket"),
        )
    )
    return spine.join(actual, ["g", "bucket"], "left_outer").select(
        F.col("g").alias(group), "bucket", *agg.keys()
    )


def band_join_bucketed(
    fact: DataFrame,
    bands: DataFrame,
    value: str,
    lo: str,
    hi: str,
    step: float,
) -> DataFrame:
    """Scale path for ``band_join``: when the bands table is too large to
    broadcast, a BroadcastNestedLoopJoin degenerates to |fact| x |bands|
    comparisons.  Coarsen both sides to integer buckets of width
    ``step`` instead: a band [lo, hi) overlaps buckets
    floor(lo/step)..floor(hi/step) (explode via ``sequence()``), a fact
    value lives in exactly one bucket — the join becomes a shuffled
    EQUI-join on the bucket key with the exact range re-check as a
    post-filter, so each fact row only meets bands sharing its bucket.
    Pick ``step`` near the typical band width: ~1-2 candidate bands per
    row, and the equi-join shuffles instead of replicating either side.
    Output rows are identical to ``band_join``."""
    v = F.col(value)
    fb = fact.withColumn("__bucket", F.floor(v / F.lit(step)).cast("long"))
    bb = bands.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / F.lit(step)).cast("long"),
                # hi is exclusive, but a band ending exactly on a bucket
                # boundary still owns that bucket's empty overlap; the
                # range re-check removes any false candidates.
                F.floor(F.col(hi) / F.lit(step)).cast("long"),
            )
        ),
    )
    joined = fb.join(bb, "__bucket", "inner").where(
        (v >= F.col(lo)) & (v < F.col(hi))
    )
    return joined.drop("__bucket")


def grouped_ols_arrow(
    df: DataFrame, key: str, x: str, y: str
) -> DataFrame:
    """Per-group OLS fit through the ``applyInArrow`` seam (Spark 4):
    each group arrives as ONE pyarrow.Table (zero-copy columnar, no
    pandas conversion), numpy computes the closed-form fit, one row
    returns per group.

    This exists as the template for grouped custom ops Spark can't
    express (iterative solvers, scipy fits): for plain OLS prefer the
    native ``regr_slope``/``regr_intercept`` aggregates
    (`trend_regression_daily`), which is exactly what
    ``tests/test_relational.py`` pins this seam against.  Scale: one
    shuffle on ``key``; each group must fit one Arrow batch — fine for
    per-entity series, wrong for one giant group (use the native
    aggregates there)."""
    import numpy as np
    import pyarrow as pa

    def fit(tbl: "pa.Table") -> "pa.Table":
        xs = tbl.column(x).to_numpy(zero_copy_only=False).astype("float64")
        ys = tbl.column(y).to_numpy(zero_copy_only=False).astype("float64")
        ok = ~(np.isnan(xs) | np.isnan(ys))
        xs, ys = xs[ok], ys[ok]
        n = int(xs.size)
        if n >= 2 and float(np.var(xs)) > 0.0:
            mx, my = xs.mean(), ys.mean()
            cov = float(((xs - mx) * (ys - my)).sum())
            var = float(((xs - mx) ** 2).sum())
            slope = cov / var
            intercept = my - slope * mx
        else:
            slope = intercept = float("nan")
        return pa.table(
            {
                key: pa.array([tbl.column(key)[0].as_py()]),
                "n": pa.array([n], type=pa.int64()),
                "slope": pa.array([slope], type=pa.float64()),
                "intercept": pa.array([intercept], type=pa.float64()),
            }
        )

    out_schema = f"{key} string, n bigint, slope double, intercept double"
    return df.groupBy(key).applyInArrow(fit, out_schema)


def holt_linear_arrow(
    df: DataFrame,
    key: str,
    t: str,
    y: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 7,
) -> DataFrame:
    """Per-series Holt linear (double exponential) smoothing through the
    ``applyInArrow`` seam: level/trend recurrences
    l_i = a*y_i + (1-a)(l_{i-1}+b_{i-1}); b_i = g(l_i-l_{i-1}) + (1-g)b_{i-1}
    initialized l_0=y_0, b_0=y_1-y_0, plus an h-step-ahead forecast
    l_n + h*b_n and the one-step-ahead SSE.

    The recurrence is INHERENTLY sequential per series — no window or
    aggregate expresses it — which is exactly the sanctioned use of the
    Arrow seam (SCALE.md §1): one shuffle on the series key, each
    series smoothed in a single columnar batch, one row out per series.
    Deterministic: plain float64 arithmetic in input order (rows are
    sorted by ``t`` inside the batch)."""
    import numpy as np
    import pyarrow as pa

    def fit(tbl: "pa.Table") -> "pa.Table":
        idx = pa.compute.sort_indices(tbl, sort_keys=[(t, "ascending")])
        tbl = tbl.take(idx)
        ys = tbl.column(y).to_numpy(zero_copy_only=False).astype("float64")
        n = int(ys.size)
        if n >= 2:
            lvl, trd = ys[0], ys[1] - ys[0]
            sse = 0.0
            for i in range(1, n):
                pred = lvl + trd
                sse += (ys[i] - pred) ** 2
                new_lvl = alpha * ys[i] + (1 - alpha) * (lvl + trd)
                trd = beta * (new_lvl - lvl) + (1 - beta) * trd
                lvl = new_lvl
            fc = lvl + horizon * trd
        else:
            lvl = ys[0] if n else float("nan")
            trd, sse, fc = float("nan"), float("nan"), float("nan")
        return pa.table(
            {
                key: pa.array([tbl.column(key)[0].as_py()]),
                "n": pa.array([n], type=pa.int64()),
                "level": pa.array([float(lvl)], type=pa.float64()),
                "trend": pa.array([float(trd)], type=pa.float64()),
                "forecast": pa.array([float(fc)], type=pa.float64()),
                "sse": pa.array([float(sse)], type=pa.float64()),
            }
        )

    out_schema = (
        f"{key} string, n bigint, level double, trend double,"
        " forecast double, sse double"
    )
    return df.groupBy(key).applyInArrow(fit, out_schema)
