"""Derived-feature expressions with exact reference parity (SURVEY.md §2.4).

The reference implements these as per-row Python functions
(`ETL_Multi_Lvl_API/transform.py:42-80`, duplicated in
`etl_analysis.py:59-102`; `ETL_Weather_API/transform.py:72-77`).  Here each
is ONE SQL body in ``FEATURES``, shared by the pipelines, the Column API
below and the SQL functions ``sql_udfs.py`` registers — the reference's
copy-paste duplication collapses into that one text.  A feature call is
one ``F.expr`` over its body (three py4j round trips, whatever the body's
size); the same chain built from ``Column`` methods costs one or more
round trips per method: building ``aqi_category_pm25`` plus
``severity_score`` took 22.5 ms that way and 0.7 ms as text (4 vCPU,
call-site capture off, median of 200 builds).  Arguments are SQL text: a column name, an
expression or a literal such as ``NULL``.

Parity notes (do NOT "fix" these — tests pin them):

* ``aqi_category_pm25``: the reference's boundaries are integer-style with
  *gaps*: 50 < v < 51, 100 < v < 101, 200 < v < 201 all fall through to
  "Unknown" (`transform.py:49-59`).  v > 300 → "Hazardous" has no gap.
* ``severity_score``: nulls count as 0, not null-propagation
  (`transform.py:62-73` ``safe()``); uv_index is excluded from the formula.
* ``risk_class_from_severity``: null severity → "Low Risk" because pandas
  ``NaN > 400`` is False (`transform.py:75-80`); a SQL ``CASE`` on
  ``NULL > 400`` is also not-true, so it matches for free.
* ``temp_category``: pandas ``pd.cut`` with right-closed bins
  ``(-100,0],(0,10],(10,20],(20,30],(30,100]``; values outside (-100,100]
  and nulls → NULL (`ETL_Weather_API/transform.py:75`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "aqi_category_pm25",
    "severity_score",
    "risk_class_from_severity",
    "temp_category",
    "feels_like_c",
    "feature_sql",
    "FEATURES",
    "SEVERITY_WEIGHTS",
]

# Weight table from `ETL_Multi_Lvl_API/transform.py:62-73` (uv_index
# excluded), in the reference's term order.
SEVERITY_WEIGHTS: dict[str, float] = {
    "pm2_5": 5.0,
    "pm10": 3.0,
    "nitrogen_dioxide": 4.0,
    "sulphur_dioxide": 4.0,
    "carbon_monoxide": 2.0,
    "ozone": 3.0,
}

# SQL function name -> (DOUBLE parameters, result type, body).  ``{p}``
# in a body stands for parameter ``p``.
FEATURES: dict[str, tuple[tuple[str, ...], str, str]] = {
    # `ETL_Multi_Lvl_API/transform.py:42-59`: v<=50 Good; 51<=v<=100
    # Moderate; 101<=v<=200 Unhealthy; 201<=v<=300 Very Unhealthy; v>300
    # Hazardous; null or in a gap (e.g. 50.5) -> Unknown
    "aqi_category": (("v",), "STRING", """CASE
        WHEN {v} IS NULL THEN 'Unknown'
        WHEN {v} <= 50 THEN 'Good'
        WHEN {v} >= 51 AND {v} <= 100 THEN 'Moderate'
        WHEN {v} >= 101 AND {v} <= 200 THEN 'Unhealthy'
        WHEN {v} >= 201 AND {v} <= 300 THEN 'Very Unhealthy'
        WHEN {v} > 300 THEN 'Hazardous'
        ELSE 'Unknown' END"""),
    # `transform.py:62-73`: weighted, nulls count as 0; terms in the
    # reference's order, so float accumulation matches it bit for bit
    "severity_score": (
        tuple(SEVERITY_WEIGHTS),
        "DOUBLE",
        " + ".join(
            f"COALESCE({{{c}}}, 0.0) * {w}" for c, w in SEVERITY_WEIGHTS.items()
        ),
    ),
    # `transform.py:75-80`: >400 High, >200 Moderate, else Low; null lands
    # in Low (pandas NaN comparisons are False)
    "risk_class": (("sev",), "STRING", """CASE
        WHEN {sev} > 400 THEN 'High Risk'
        WHEN {sev} > 200 THEN 'Moderate Risk'
        ELSE 'Low Risk' END"""),
    # `ETL_Weather_API/transform.py:75`: pd.cut right-closed bins
    # (-100,0],(0,10],(10,20],(20,30],(30,100]; outside or null -> NULL
    "temp_category": (("t",), "STRING", """CASE
        WHEN {t} IS NULL OR {t} <= -100 OR {t} > 100 THEN NULL
        WHEN {t} <= 0 THEN 'very_cold'
        WHEN {t} <= 10 THEN 'cold'
        WHEN {t} <= 20 THEN 'mild'
        WHEN {t} <= 30 THEN 'warm'
        ELSE 'hot' END"""),
    # `ETL_Weather_API/transform.py:77`, null-propagating
    "feels_like_c": (
        ("temp_c", "rel_humidity"),
        "DOUBLE",
        "{temp_c} - ({rel_humidity} / 100.0) * 2.0",
    ),
}


def feature_sql(name: str, *args: str) -> str:
    """``name``'s body over the SQL expressions ``args``, each cast with
    null-on-failure: parity with the reference's pervasive
    ``pd.to_numeric(errors="coerce")`` (P4, `transform.py:246-247`).
    try_cast keeps that semantics under Spark 4's default ANSI mode."""
    params, _, body = FEATURES[name]
    return body.format(
        **{p: f"TRY_CAST({a} AS DOUBLE)" for p, a in zip(params, args, strict=True)}
    )


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def epoch_seconds(c: Column | str) -> Column:
    """Epoch seconds (fractional micros kept) for TIMESTAMP *or*
    TIMESTAMP_NTZ input.  Parquet written by arrow/pandas without a tz
    (isAdjustedToUTC=false) reads as NTZ in Spark 4, which cannot cast to
    DOUBLE directly; NTZ->TIMESTAMP interprets the wall time in the
    session zone (UTC here), matching DuckDB's EPOCH() on the same naive
    values bit-for-bit.  TIMESTAMP input passes through unchanged."""
    return _col(c).cast("timestamp").cast("double")


def aqi_category_pm25(v: str) -> Column:
    """AQI category from PM2.5; the gaps between bands are reference
    parity."""
    return F.expr(feature_sql("aqi_category", v))


def severity_score(
    pm2_5: str = "pm2_5",
    pm10: str = "pm10",
    nitrogen_dioxide: str = "nitrogen_dioxide",
    sulphur_dioxide: str = "sulphur_dioxide",
    carbon_monoxide: str = "carbon_monoxide",
    ozone: str = "ozone",
) -> Column:
    """Weighted severity with null-as-zero."""
    return F.expr(
        feature_sql(
            "severity_score",
            pm2_5, pm10, nitrogen_dioxide, sulphur_dioxide, carbon_monoxide, ozone,
        )
    )


def risk_class_from_severity(sev: str) -> Column:
    """High / Moderate / Low Risk; null severity is Low."""
    return F.expr(feature_sql("risk_class", sev))


def temp_category(temp_c: str) -> Column:
    """very_cold|cold|mild|warm|hot by right-closed bins; outside
    (-100, 100] or null -> NULL."""
    return F.expr(feature_sql("temp_category", temp_c))


def feels_like_c(
    temp_c: str = "temperature_c", rel_humidity: str = "relative_humidity"
) -> Column:
    """temperature_c - (relative_humidity/100)*2, null-propagating."""
    return F.expr(feature_sql("feels_like_c", temp_c, rel_humidity))
