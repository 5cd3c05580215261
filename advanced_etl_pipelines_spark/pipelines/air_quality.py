"""Urban Air Quality pipeline — Spark-native rebuild of the reference's
``ETL_Multi_Lvl_API`` stages (SURVEY.md §3.1).

Reference shape (all pandas, eager, files-on-disk between stages):
``extract.py`` (HTTP → raw JSON) → ``transform.py:212-276`` (parse → concat
→ coerce → drop → dedup-mean → features → staged CSV) →
``load.py:147-165`` (batched upsert) → ``etl_analysis.py:346-411`` (KPIs,
risk distribution, trends).

Here each stage is a pure ``DataFrame -> DataFrame`` function and the
medallion handoff is Parquet (partitioned by city) instead of timestamped
CSV.  Scan, explode, aggregate and the derived features run in the one
write of the staged table, where the reference makes four materialized
passes with per-row Python ``apply``.

The warehouse upsert and the three report writes depend only on the
staged table, so they run concurrently (``pipelines.run_medallion``): on
batch-sized data each write is a fixed 0.1–0.25 s of job setup, commit
and file I/O (4-core local session), which overlap hides and cores do not.
The three report plans are built before any write starts, so the
writes' jobs reach Spark's FIFO scheduler in the same order on every op.

Every derived column and filter is SQL text generated in Python from the
inferred JSON schema: a ``where`` string costs one py4j round trip and a
``selectExpr`` one per item plus a few, whatever the item's size, where
the same expression as a ``Column`` chain costs one or more per method.

Scale notes (100 TB): the only shuffle in the transform is the
(city, time) dedup aggregate — partial aggregation runs map-side, so the
exchange carries one row per (city, hour), not per reading.  The analysis
aggregates reduce to a handful of rows, so each report sorts its single
output partition in place instead of range-partitioning.  Staged data is partitioned by
``city`` so per-city queries prune partitions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from advanced_etl_pipelines_spark.functions.features import (
    SEVERITY_WEIGHTS,
    aqi_category_pm25,
    feature_sql,
    risk_class_from_severity,
    severity_score,
)
from advanced_etl_pipelines_spark.operators.relational import ensure_schema
from advanced_etl_pipelines_spark.pipelines import run_medallion

# ETL_Multi_Lvl_API/transform.py:29-37
POLLUTANT_COLS = [
    "pm10",
    "pm2_5",
    "carbon_monoxide",
    "nitrogen_dioxide",
    "sulphur_dioxide",
    "ozone",
    "uv_index",
]

RISK_CLASSES = ["High Risk", "Moderate Risk", "Low Risk"]

STAGED_COLS = ["city", "time", "hour"] + POLLUTANT_COLS + [
    "aqi_pm25",
    "severity",
    "risk_class",
]


def _struct_fields(df: DataFrame, name: str) -> list[str]:
    """Field names of a top-level struct column, [] if absent/not a struct."""
    for f in df.schema.fields:
        if f.name == name and hasattr(f.dataType, "fields"):
            return [sub.name for sub in f.dataType.fields]
    return []


def read_raw(spark: SparkSession, raw_dir: str) -> DataFrame:
    """S4: multiLine JSON directory scan with corrupt-file tolerance
    (`ETL_Multi_Lvl_API/transform.py:83-87,217-222`).  One row per raw
    payload document, plus the city hint from the landing filename, e.g.
    ``mumbai_raw_2025….json`` (`transform.py:104-106`)."""
    return (
        spark.read.option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .json(f"{raw_dir}/*_raw_*.json")
        .withColumn(
            "_file_hint",
            F.expr("regexp_extract(input_file_name(), '([^/_]+)_raw_', 1)"),
        )
    )


def _typed(cols: list[str], present: list[str]) -> list[str]:
    """``cols`` as DOUBLE select items: cast with null-on-failure where
    present, a NULL column where absent (P4, P9)."""
    return [
        f"TRY_CAST(`{c}` AS DOUBLE) AS `{c}`" if c in present
        else f"CAST(NULL AS DOUBLE) AS `{c}`"
        for c in cols
    ]


def parse_hourly_array(raw: DataFrame) -> DataFrame:
    """P1: struct-of-arrays payload → one row per hour
    (`ETL_Multi_Lvl_API/transform.py:89-130`).

    ``arrays_zip`` aligns the time array with each pollutant array by
    index, padding short arrays with NULL — the same index-safe zip the
    reference does by hand.  Key variants (``pm2_5``/``pm2.5``/``pm25``)
    are resolved against the inferred schema (`transform.py:110-118`);
    absent metrics become NULL columns (P9).
    """
    fields = _struct_fields(raw, "hourly")
    if "time" not in fields:
        return None  # shape not present in this corpus
    arrays = {}
    for col in POLLUTANT_COLS:
        variants = [col, col.replace("_", "."), col.replace("_", "")]
        found = next((v for v in variants if v in fields), None)
        if found is not None:
            # a NULL array (key absent from one document) nulls the zip
            arrays[col] = f"coalesce(hourly.`{found}`, array())"

    # city from payload else filename hint else "unknown"
    # (transform.py:103-106,121; `or` semantics: empty string is falsy)
    top = [f.name for f in raw.schema.fields]
    city = ", ".join(
        [f"nullif(trim(CAST(`{c}` AS STRING)), '')" for c in ("city", "name") if c in top]
        + ["nullif(_file_hint, '')", "'unknown'"]
    )
    return (
        raw.where("hourly IS NOT NULL AND hourly.time IS NOT NULL")
        .selectExpr(
            f"coalesce({city}) AS city",
            "hourly.time AS time",
            *[f"{a} AS `{c}`" for c, a in arrays.items()],
        )
        .selectExpr("city", f"inline(arrays_zip({', '.join(['time', *arrays])}))")
        .selectExpr(
            "city",
            "to_timestamp(time) AS time",  # naive ISO → UTC
            *_typed(POLLUTANT_COLS, list(arrays)),
        )
    )


PARAM_SYNONYMS = {
    "pm2_5": ["pm25", "pm2.5", "pm2_5"],
    "pm10": ["pm10"],
    "carbon_monoxide": ["co", "carbon_monoxide", "carbonmonoxide"],
    "nitrogen_dioxide": ["no2", "nitrogen_dioxide"],
    "sulphur_dioxide": ["so2", "sulphur_dioxide"],
    "ozone": ["o3", "ozone"],
    "uv_index": ["uv", "uv_index"],
}


def map_param(p: str) -> str:
    """P3: parameter-name normalization of the SQL expression ``p``
    (`ETL_Multi_Lvl_API/transform.py:171-191`); unknown → NULL."""
    whens = " ".join(
        f"WHEN lower(trim({p})) IN ({', '.join(map(repr, names))}) THEN '{target}'"
        for target, names in PARAM_SYNONYMS.items()
    )
    return f"CASE {whens} ELSE CAST(NULL AS STRING) END"


def parse_measurement_list(raw: DataFrame) -> DataFrame:
    """P2+P3+A2: OpenAQ-style ``results[].parameters[]`` → long rows →
    pivot to pollutant columns (`ETL_Multi_Lvl_API/transform.py:132-209`).

    Key synonyms resolve via ``coalesce`` chains guarded by the inferred
    schema; the long→wide pivot is one conditional mean per listed
    pollutant, so the output schema is fixed in a single aggregate.
    """
    types = {f.name: f.dataType for f in raw.schema.fields}
    if "results" not in types:
        return None
    el = types["results"].elementType
    rtypes = {s.name: s.dataType for s in el.fields} if hasattr(el, "fields") else {}

    def first_of(struct: str, fields, names: list[str]) -> str:
        """The first non-null of ``struct``'s ``names`` present in ``fields``."""
        present = [f"{struct}.`{n}`" for n in names if n in fields]
        return f"coalesce({', '.join(present)})" if present else "NULL"

    params_field = next(
        (
            n
            for n in ("parameters", "measurements", "latest", "latestMeasurements")
            if n in rtypes
        ),
        None,
    )
    if params_field is None:
        return None
    city = ", ".join(
        [
            f"nullif(trim(CAST({first_of('r', rtypes, [n])} AS STRING)), '')"
            for n in ("city", "name", "location")
        ]
        + ["nullif(_file_hint, '')"]
    )
    pt = getattr(rtypes[params_field], "elementType", None)
    sub_types = {s.name: s.dataType for s in pt.fields} if hasattr(pt, "fields") else {}
    param = first_of("p", sub_types, ["parameter", "param", "name"])
    value = first_of("p", sub_types, ["lastValue", "value", "avg"])
    # ts: first present of lastUpdated/lastUpdatedAt/date/time, with the
    # {"utc": …} dict shape (transform.py:154-155) unpacked IN PLACE in
    # the chain — a corpus may mix struct-shaped and string-shaped
    # timestamp fields across files, so each candidate contributes its
    # own variant rather than a struct hijacking the whole chain.
    ts_parts: list[str] = []
    for name in ("lastUpdated", "lastUpdatedAt", "date", "time"):
        t = sub_types.get(name)
        if t is None:
            continue
        if hasattr(t, "fields"):
            inner = [s.name for s in t.fields]
            ts_parts.extend(f"p.`{name}`.`{k}`" for k in ("utc", "local") if k in inner)
        else:
            ts_parts.append(f"p.`{name}`")
    ts = f"coalesce({', '.join(ts_parts)})" if ts_parts else "NULL"

    rows = (
        raw.where("results IS NOT NULL")
        .selectExpr("_file_hint", "explode(results) AS r")
        .selectExpr(f"coalesce({city}) AS city", f"explode(r.`{params_field}`) AS p")
        .selectExpr(
            "city",
            f"to_timestamp(CAST({ts} AS STRING)) AS time",
            f"{map_param(f'CAST({param} AS STRING)')} AS param_col",
            f"TRY_CAST(CAST({value} AS STRING) AS DOUBLE) AS value",
        )
        .where("param_col IS NOT NULL")
    )
    # groupby(city,time,param).mean → pivot_table(mean)  (transform.py:196-202)
    # as one conditional mean per pollutant: a pivot plans two aggregates
    return rows.groupBy("city", "time").agg(
        *[
            F.expr(f"avg(CASE WHEN param_col = '{c}' THEN value END) AS `{c}`")
            for c in POLLUTANT_COLS
        ]
    )


def parse_raw(raw: DataFrame) -> DataFrame:
    """Shape detection + parse + union (`transform.py:226-231,242`):
    hourly-array docs take P1, everything else P2; fragments union by name."""
    frames = [f for f in (parse_hourly_array(raw), parse_measurement_list(raw)) if f is not None]
    if not frames:
        raise ValueError("no parseable raw shape found")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def transform(parsed: DataFrame) -> DataFrame:
    """Coerce → drop-all-null → dedup-mean → derived features
    (`transform.py:244-272`).  One lazy plan: the only shuffle is the
    (city, time) aggregate, with map-side partial aggregation."""
    return (
        parsed.selectExpr("city", "time", *_typed(POLLUTANT_COLS, POLLUTANT_COLS))
        # P5: keep rows where ANY pollutant is non-null (transform.py:250)
        .where(" OR ".join(f"{c} IS NOT NULL" for c in POLLUTANT_COLS))
        # A1: duplicate readings per (city, time) collapse to the mean
        .groupBy("city", "time")
        .agg(*[F.expr(f"avg({c}) AS {c}") for c in POLLUTANT_COLS])
        # F1-F4 as native expressions (no Python apply; transform.py:265-268)
        .selectExpr(
            "city",
            "time",
            "hour(time) AS hour",
            *POLLUTANT_COLS,
            f"{feature_sql('aqi_category', 'pm2_5')} AS aqi_pm25",
            f"{feature_sql('severity_score', *SEVERITY_WEIGHTS)} AS severity",
        )
        .selectExpr(
            *STAGED_COLS[:-1], f"{feature_sql('risk_class', 'severity')} AS risk_class"
        )
    )


def write_staged(df: DataFrame, path: str) -> None:
    """S5 equivalent: Parquet partitioned by city, time-sorted within
    partitions (timestamped CSV in the reference; partition pruning
    replaces latest-wins filename sorting, and the time sort keeps
    row-group min/max stats tight for time-range scans).  The sort leads
    with ``city`` because ``partitionBy`` requires that ordering and would
    otherwise replace a time-only sort with its own."""
    df.sortWithinPartitions("city", "time").write.mode(
        "overwrite"
    ).partitionBy("city").parquet(path)


def _recompute_guard(df: DataFrame) -> DataFrame:
    """`etl_analysis.py:149-165`: pad missing pollutant columns, recompute
    severity / risk_class / aqi_pm25 when the column is absent.

    The reference recomputes when absent OR all-null; the all-null probe
    is an extra full scan, so we recompute when absent and otherwise
    coalesce per-row — equivalent output for every observed input."""
    df = ensure_schema(df, {c: "double" for c in POLLUTANT_COLS})
    if "severity" not in df.columns:
        df = df.withColumn("severity", severity_score())
    if "risk_class" not in df.columns:
        df = df.withColumn("risk_class", risk_class_from_severity("severity"))
    if "aqi_pm25" not in df.columns:
        df = df.withColumn("aqi_pm25", aqi_category_pm25("pm2_5"))
    return df


def summary_metrics(df: DataFrame) -> DataFrame:
    """A4+A5+A6 → long (metric, value) frame
    (`etl_analysis.py:167-224,359-380`).  Three tiny argmax aggregates;
    ties break like pandas ``idxmax`` (first key in sorted group order)."""

    def argmax(value_col: str, key: str, metric: str) -> DataFrame:
        pairs = ", ".join(
            f"named_struct('metric', '{name}', 'value', CAST({c} AS STRING))"
            for name, c in ((metric, "k"), (f"{metric}_value", "v"))
        )
        return (
            df.selectExpr(f"{key} AS k", f"{value_col} AS x")
            .where("k IS NOT NULL")
            .groupBy("k")
            .agg(F.expr("avg(x) AS v"))
            .where("v IS NOT NULL")
            .orderBy(F.desc("v"), "k")
            .limit(1)
            .selectExpr(f"inline(array({pairs}))")
        )

    return (
        argmax("pm2_5", "city", "city_highest_avg_pm2_5")
        .unionAll(argmax("severity", "city", "city_highest_severity"))
        .unionAll(argmax("pm2_5", "hour(time)", "hour_with_worst_avg_pm2_5"))
    )


def city_risk_distribution(df: DataFrame) -> DataFrame:
    """A3: pivot-count of risk classes per city + totals + percentages
    (`etl_analysis.py:227-245`), ordered by city like pandas groupby.
    The pivot is one conditional count per class, and the single output
    partition is sorted in place: no range shuffle for a few rows."""
    pct = ("pct_high", "pct_moderate", "pct_low")
    return (
        df.groupBy("city")
        .agg(
            *[
                F.expr(f"count(CASE WHEN risk_class = '{c}' THEN 1 END) AS `{c}`")
                for c in RISK_CLASSES
            ]
        )
        .selectExpr("*", " + ".join(f"`{c}`" for c in RISK_CLASSES) + " AS total_hours")
        .selectExpr(
            "*", *[f"`{c}` / total_hours * 100 AS {p}" for c, p in zip(RISK_CLASSES, pct)]
        )
        .coalesce(1)
        .sortWithinPartitions("city")
    )


def pollution_trends(df: DataFrame) -> DataFrame:
    """A11+A15: per (city, time) mean of pm2_5/pm10/ozone, sorted
    (`etl_analysis.py:248-262`) within its single output partition."""
    df = ensure_schema(df, {c: "double" for c in ("pm2_5", "pm10", "ozone")})
    return (
        df.groupBy("city", "time")
        .agg(*[F.expr(f"avg({c}) AS {c}") for c in ("pm2_5", "pm10", "ozone")])
        .coalesce(1)
        .sortWithinPartitions("city", "time")
    )


def analyze(df: DataFrame) -> dict[str, DataFrame]:
    """`etl_analysis.py:346-411` minus the PNG sinks: city trim (P10),
    recompute guard, then the three processed outputs."""
    df = df.withColumn("city", F.expr("trim(CAST(city AS STRING))"))
    df = _recompute_guard(df)
    return {
        "summary_metrics": summary_metrics(df),
        "city_risk_distribution": city_risk_distribution(df),
        "pollution_trends": pollution_trends(df),
    }


def run_pipeline(
    spark: SparkSession,
    raw_dir: str,
    staged_path: str,
    processed_dir: str,
    skip_load: bool = False,
    skip_analysis: bool = False,
    upsert: Callable[[DataFrame], None] | None = None,
) -> dict[str, float]:
    """Orchestrator mirroring ``etl_pipeline.py:62-79,108-134``: named
    steps, wall-clock timing, skip flags, abort-on-failure (exceptions
    propagate); load and reports overlap (``pipelines.run_medallion``).
    ``upsert`` is the warehouse load hook (S7) — a
    ``sinks.upsert_parquet`` closure in tests; None skips like SKIP_LOAD."""

    def stage() -> DataFrame:
        df = transform(parse_raw(read_raw(spark, raw_dir)))
        write_staged(df, staged_path)
        # the written schema, partition column last, spares an inference job
        fields = sorted(df.schema.fields, key=lambda f: f.name == "city")
        return spark.read.schema(StructType(fields)).parquet(staged_path)

    return run_medallion(
        stage,
        None if skip_load else upsert,
        None if skip_analysis else analyze,
        processed_dir,
    )


def main() -> None:
    """CLI twin of ``etl_pipeline.py:108-134``: raw dir → staged parquet →
    optional warehouse upsert → processed CSVs, with env skip flags
    (`SKIP_LOAD`/`SKIP_ANALYSIS`, `:121-130`) and per-step timing."""
    import os

    from advanced_etl_pipelines_spark.session import get_spark
    from advanced_etl_pipelines_spark.sources.sinks import (
        upsert_parquet_partitioned,
    )

    raw_dir = os.environ.get("AQ_RAW_DIR", "data/raw")
    out_root = os.environ.get("AQ_OUT_DIR", "data")
    skip_load = os.environ.get("SKIP_LOAD", "").lower() in ("1", "true", "yes")
    skip_analysis = os.environ.get("SKIP_ANALYSIS", "").lower() in (
        "1", "true", "yes",
    )
    spark = get_spark("aq-pipeline")
    wh = f"{out_root}/warehouse/air_quality"
    timings = run_pipeline(
        spark,
        raw_dir,
        f"{out_root}/staged/air_quality",
        f"{out_root}/processed",
        skip_load=skip_load,
        skip_analysis=skip_analysis,
        upsert=None
        if skip_load
        else (
            lambda df: upsert_parquet_partitioned(
                spark, df, wh, ["city", "time"], "city"
            )
        ),
    )
    for step, sec in timings.items():
        print(f"{step}: {sec:.1f}s")


if __name__ == "__main__":
    main()
