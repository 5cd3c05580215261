"""Weather pipeline — Spark-native rebuild of the reference's
``ETL_Weather_API`` stages (SURVEY.md §3.2).

Reference: ``extract.py`` (Open-Meteo HTTP → raw JSON) →
``transform.py:42-85`` (flatten → rename → coerce → features → drop →
staged CSV) → ``load.py`` (append-insert) → ``etl_analysis.py:98-161``
(summary, hourly/daily averages).

The append load and the three report writes run concurrently
(``pipelines.run_medallion``): each pays a fixed job setup and commit
cost that dwarfs its few rows, so they overlap instead of queueing.
Derived columns are SQL text built from the inferred schema (see
``air_quality``), so a plan costs a few py4j round trips per step, not
one per ``Column`` call.

Timestamps: the raw payload carries NAIVE local wall-clock strings
(``timezone=auto`` → Asia/Kolkata in the checked-in data) and the
reference keeps them naive throughout, so ``hour``/``date`` are local.
Under our UTC session the same wall-clock parses to the same field
values — parity holds because nothing ever converts zones.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.functions.features import feature_sql
from advanced_etl_pipelines_spark.pipelines import run_medallion

RENAMES = {  # P7: ETL_Weather_API/transform.py:62-66
    "temperature_2m": "temperature_c",
    "relativehumidity_2m": "relative_humidity",
    "windspeed_10m": "wind_speed_kmh",
}

SENSOR_COLS = ["temperature_c", "relative_humidity", "wind_speed_kmh"]


def read_raw(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Raw Open-Meteo JSON (one document per fetch)."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.option("multiLine", "true").json(paths)


METRIC_FIELDS = ["temperature_2m", "relativehumidity_2m", "windspeed_10m"]


def flatten(raw: DataFrame) -> DataFrame:
    """P1 (weather variant): index-safe zip of ``hourly.time`` with each
    metric array (`ETL_Weather_API/transform.py:15-40`) — ``arrays_zip``
    pads short arrays with NULL exactly like the reference's bounds
    check, and metrics absent from the payload become NULL columns (the
    reference's ``hourly.get(key, [])`` default).  One row per
    (document, hour)."""
    fields: list[str] = []
    for f in raw.schema.fields:
        if f.name == "hourly" and hasattr(f.dataType, "fields"):
            fields = [s.name for s in f.dataType.fields]
    present = [m for m in METRIC_FIELDS if m in fields]
    return (
        raw.selectExpr(
            "hourly.time AS time",
            # a NULL array (key absent from one document) nulls the zip
            *[f"coalesce(hourly.`{m}`, array()) AS {m}" for m in present],
        )
        .selectExpr(f"inline(arrays_zip({', '.join(['time', *present])}))")
        .selectExpr(
            "time",
            *[m if m in present else f"CAST(NULL AS DOUBLE) AS {m}" for m in METRIC_FIELDS],
        )
    )


def transform(flat: DataFrame) -> DataFrame:
    """Rename → coerce → features → drop-all-null
    (`ETL_Weather_API/transform.py:56-81`), one lazy shuffle-free plan."""
    return (
        flat.selectExpr(
            "to_timestamp(time) AS time",
            *[f"TRY_CAST({src} AS DOUBLE) AS {dst}" for src, dst in RENAMES.items()],
        )
        .selectExpr(
            "time",
            *SENSOR_COLS,
            "to_date(time) AS date",  # F5
            "hour(time) AS hour",  # F4
            f"{feature_sql('temp_category', 'temperature_c')} AS temp_category",  # F6
            f"{feature_sql('feels_like_c', 'temperature_c', 'relative_humidity')}"
            " AS feels_like_c",  # F7
        )
        .na.drop(how="all", subset=SENSOR_COLS)  # P5
    )


def analysis_summary(df: DataFrame) -> DataFrame:
    """A8: one-row global summary (`ETL_Weather_API/etl_analysis.py:107-122`).
    ``time_min``/``time_max`` are stringified like the reference's
    ``str(Timestamp)``."""
    return df.selectExpr(
        "count(1) AS rows",
        "date_format(min(time), 'yyyy-MM-dd HH:mm:ss') AS time_min",
        "date_format(max(time), 'yyyy-MM-dd HH:mm:ss') AS time_max",
        "avg(temperature_c) AS temp_mean",
        "avg(relative_humidity) AS humidity_mean",
        "avg(wind_speed_kmh) AS wind_mean",
    )


def hourly_avg_temp(df: DataFrame) -> DataFrame:
    """A9: mean temperature per (date, hour)
    (`ETL_Weather_API/etl_analysis.py:126-130`), pandas-sorted by key
    within its single output partition."""
    return (
        df.groupBy("date", "hour")
        .agg(F.expr("avg(temperature_c) AS temperature_c"))
        .coalesce(1)
        .sortWithinPartitions("date", "hour")
    )


def daily_avg_temp(df: DataFrame) -> DataFrame:
    """A10: mean temperature per date (`etl_analysis.py:144-146`),
    sorted within its single output partition."""
    return (
        df.groupBy("date")
        .agg(F.expr("avg(temperature_c) AS temperature_c"))
        .coalesce(1)
        .sortWithinPartitions("date")
    )


def analyze(df: DataFrame) -> dict[str, DataFrame]:
    return {
        "analysis_summary": analysis_summary(df),
        "hourly_avg_temp": hourly_avg_temp(df),
        "daily_avg_temp": daily_avg_temp(df),
    }


def run_pipeline(
    spark: SparkSession,
    raw_paths: str | list[str],
    staged_path: str,
    processed_dir: str,
    skip_analysis: bool = False,
    append: Callable[[DataFrame], None] | None = None,
) -> dict[str, float]:
    """Orchestrator mirroring ``run_pipeline.py:7-20`` (direct calls, no
    subprocess fallback): transform → staged parquet → optional append
    load (S8) and analysis CSVs, the two overlapping
    (``pipelines.run_medallion``)."""

    def stage() -> DataFrame:
        df = transform(flatten(read_raw(spark, raw_paths)))
        df.write.mode("overwrite").parquet(staged_path)
        # the written schema spares an inference job
        return spark.read.schema(df.schema).parquet(staged_path)

    return run_medallion(
        stage, append, None if skip_analysis else analyze, processed_dir
    )


def main() -> None:
    """CLI twin of ``run_pipeline.py:7-20``: latest raw file → staged
    parquet → append load → analysis CSVs."""
    import glob
    import os

    from advanced_etl_pipelines_spark.session import get_spark
    from advanced_etl_pipelines_spark.sources.sinks import append_parquet

    raw_dir = os.environ.get("WX_RAW_DIR", "data/raw")
    out_root = os.environ.get("WX_OUT_DIR", "data")
    raws = sorted(glob.glob(f"{raw_dir}/weather_*.json"))
    if not raws:
        raise SystemExit(f"no raw weather JSON in {raw_dir}")
    spark = get_spark("weather-pipeline")
    timings = run_pipeline(
        spark,
        raws[-1],  # latest-wins, ETL_Weather_API/transform.py:87-92
        f"{out_root}/staged/weather",
        f"{out_root}/processed",
        append=lambda df: append_parquet(df, f"{out_root}/warehouse/weather_data"),
    )
    for step, sec in timings.items():
        print(f"{step}: {sec:.1f}s")


if __name__ == "__main__":
    main()
