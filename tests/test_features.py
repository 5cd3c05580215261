"""Boundary/gap/null parity tests for the feature expression library.

These pin the reference's exact semantics (SURVEY.md §2.4): the gapped AQI
boundaries, null-as-zero severity, NaN-falls-to-Low risk, right-closed temp
bins. Expected values are hand-computed from the reference formulas
(`ETL_Multi_Lvl_API/transform.py:42-80`, `ETL_Weather_API/transform.py:75-77`).
"""

from __future__ import annotations

import pytest

from advanced_etl_pipelines_spark.functions.features import (
    aqi_category_pm25,
    feels_like_c,
    risk_class_from_severity,
    severity_score,
    temp_category,
)


def _eval(spark, col, values, in_type="double"):
    df = spark.createDataFrame([(v,) for v in values], f"v {in_type}")
    return [r[0] for r in df.select(col).collect()]


AQI_CASES = [
    (None, "Unknown"),
    (0.0, "Good"),
    (50.0, "Good"),
    (50.5, "Unknown"),  # the gap — reference parity, do not "fix"
    (51.0, "Moderate"),
    (100.0, "Moderate"),
    (100.5, "Unknown"),
    (101.0, "Unhealthy"),
    (200.0, "Unhealthy"),
    (200.5, "Unknown"),
    (201.0, "Very Unhealthy"),
    (300.0, "Very Unhealthy"),
    (300.5, "Hazardous"),  # >300 has no gap
    (1000.0, "Hazardous"),
    (-5.0, "Good"),  # reference: v <= 50 includes negatives
]


def test_aqi_category_boundaries(spark):
    vals = [c[0] for c in AQI_CASES]
    out = _eval(spark, aqi_category_pm25("v"), vals)
    assert out == [c[1] for c in AQI_CASES]


def test_severity_null_as_zero(spark):
    df = spark.createDataFrame(
        [
            (10.0, 20.0, 1.0, 2.0, 3.0, 4.0),
            (None, 20.0, None, 2.0, None, 4.0),
            (None, None, None, None, None, None),
        ],
        "pm2_5 double, pm10 double, nitrogen_dioxide double, "
        "sulphur_dioxide double, carbon_monoxide double, ozone double",
    )
    out = [r[0] for r in df.select(severity_score()).collect()]
    # 5*pm2_5 + 3*pm10 + 4*no2 + 4*so2 + 2*co + 3*o3, nulls -> 0
    assert out[0] == 5 * 10 + 3 * 20 + 4 * 1 + 4 * 2 + 2 * 3 + 3 * 4
    assert out[1] == 3 * 20 + 4 * 2 + 3 * 4
    assert out[2] == 0.0  # all-null row scores 0, not NULL


@pytest.mark.parametrize(
    "sev,expected",
    [
        (500.0, "High Risk"),
        (400.5, "High Risk"),
        (400.0, "Moderate Risk"),  # strictly-greater boundaries
        (200.5, "Moderate Risk"),
        (200.0, "Low Risk"),
        (0.0, "Low Risk"),
        (None, "Low Risk"),  # NaN > 400 is False in pandas -> Low
    ],
)
def test_risk_class(spark, sev, expected):
    assert _eval(spark, risk_class_from_severity("v"), [sev]) == [expected]


TEMP_CASES = [
    (None, None),
    (-150.0, None),  # below pd.cut range
    (-100.0, None),  # left edge is OPEN: (-100, 0]
    (-99.9, "very_cold"),
    (0.0, "very_cold"),  # right-closed
    (0.1, "cold"),
    (10.0, "cold"),
    (10.1, "mild"),
    (20.0, "mild"),
    (25.0, "warm"),
    (30.0, "warm"),
    (30.1, "hot"),
    (100.0, "hot"),
    (100.1, None),  # above range
]


def test_temp_category_bins(spark):
    vals = [c[0] for c in TEMP_CASES]
    out = _eval(spark, temp_category("v"), vals)
    assert out == [c[1] for c in TEMP_CASES]


def test_feels_like_null_propagates(spark):
    df = spark.createDataFrame(
        [(30.0, 50.0), (30.0, None), (None, 50.0)],
        "temperature_c double, relative_humidity double",
    )
    out = [r[0] for r in df.select(feels_like_c()).collect()]
    assert out[0] == 30.0 - (50.0 / 100) * 2
    assert out[1] is None and out[2] is None


def test_aqi_non_numeric_string_coerces_to_unknown(spark):
    # reference: float(v) failure -> "Unknown"; Spark cast returns NULL -> Unknown
    out = _eval(spark, aqi_category_pm25("v"), ["abc", "42"], in_type="string")
    assert out == ["Unknown", "Good"]


def test_sql_udfs_match_column_api(spark):
    """The SQL front door's feature UDFs agree with the Column API on
    every boundary value, and their bodies inline (no Python in plan)."""
    from advanced_etl_pipelines_spark.functions.features import (
        aqi_category_pm25,
        feels_like_c,
        risk_class_from_severity,
        severity_score,
        temp_category,
    )
    from advanced_etl_pipelines_spark.functions.sql_udfs import (
        register_sql_udfs,
    )

    assert register_sql_udfs(spark) == [
        "aqi_category", "feels_like_c", "risk_class",
        "severity_score", "temp_category",
    ]
    vals = [None, -150.0, -100.0, 0.0, 10.0, 20.0, 30.0, 50.0, 50.5,
            51.0, 100.0, 100.5, 101.0, 200.0, 201.0, 300.0, 300.5,
            400.0, 401.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    df.createOrReplaceTempView("__vals")
    got = spark.sql(
        """SELECT v, aqi_category(v) AS a, risk_class(v) AS r,
                  temp_category(v) AS t,
                  severity_score(v, v, NULL, v, NULL, v) AS s,
                  feels_like_c(v, 50.0) AS f
           FROM __vals"""
    ).collect()
    want = df.select(
        "v",
        aqi_category_pm25("v").alias("a"),
        risk_class_from_severity("v").alias("r"),
        temp_category("v").alias("t"),
        severity_score("v", "v", "NULL", "v", "NULL", "v").alias("s"),
        feels_like_c("v", "50.0").alias("f"),
    ).collect()
    assert sorted(map(tuple, got), key=str) == sorted(
        map(tuple, want), key=str
    )
    plan = spark.sql(
        "SELECT aqi_category(v) FROM __vals"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
