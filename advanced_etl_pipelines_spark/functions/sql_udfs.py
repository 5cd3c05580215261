"""SQL scalar UDF registration (Spark 4 `CREATE TEMPORARY FUNCTION ...
RETURN expr`): the parity feature functions exposed to the SQL front
door, so users migrating from the reference's Python helpers
(`ETL_Multi_Lvl_API/transform.py`, `ETL_Weather_API/transform.py`) can
call them from plain `spark.sql(...)` as well as the Column API.

Each function's body is the one SQL text ``functions/features.py`` keeps
per feature (``FEATURES``), so the SQL and Column forms cannot drift
apart.  SQL UDFs are expression templates, not Python — the body inlines
into the calling plan and stays inside whole-stage codegen, so calling
these from SQL costs exactly what the Column-API versions cost (pinned by
tests/test_features.py::test_sql_udfs_match_column_api).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from advanced_etl_pipelines_spark.functions.features import FEATURES


def register_sql_udfs(spark: SparkSession) -> list[str]:
    """Register every SQL feature UDF on the session; returns names."""
    for name, (params, returns, body) in FEATURES.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
            f"({', '.join(f'{p} DOUBLE' for p in params)})"
            f" RETURNS {returns} RETURN {body.format(**{p: p for p in params})}"
        )
    return sorted(FEATURES)
