"""Both medallion pipelines end to end on a small synthetic batch, with
every processed CSV pinned against an eager pandas evaluation of the
reference formulas (`ETL_Multi_Lvl_API/transform.py`, `etl_analysis.py`;
`ETL_Weather_API/transform.py`, `etl_analysis.py`), plus failure
propagation out of the concurrent load-and-report phase and the py4j
round trips that building the plans costs.

The AQ batch mixes both raw shapes and carries a duplicate reading in each
(two hourly documents share an hour; one measurement list repeats a
parameter), pollutants missing per document and per shape, and a tied
argmax: both cities average exactly 40.0 pm2_5, so pandas ``idxmax``
picks the first city in sorted order.
"""

from __future__ import annotations

import gc
import glob
import json
import math
from collections import Counter

import pandas as pd
import pytest

from advanced_etl_pipelines_spark.functions import features
from advanced_etl_pipelines_spark.pipelines import air_quality as aq
from advanced_etl_pipelines_spark.pipelines import run_medallion
from advanced_etl_pipelines_spark.pipelines import weather as wx
from advanced_etl_pipelines_spark.sources.sinks import (
    append_parquet,
    upsert_parquet_partitioned,
)

POLLUTANTS = aq.POLLUTANT_COLS
T = ["2025-01-01T00:00", "2025-01-01T01:00", "2025-01-01T02:00"]

# (file city, hourly struct of arrays); no document carries uv_index, and
# the second one carries only pm2_5 — its other pollutants are NULL
HOURLY_DOCS = [
    ("alpha", {
        "time": T,
        "pm2_5": [40.0, 50.0, 20.0],
        "pm10": [30.0, 100.0, 10.0],
        "carbon_monoxide": [1.0, 1.0, 1.0],
        "nitrogen_dioxide": [10.0, 10.0, 10.0],
        "sulphur_dioxide": [5.0, 5.0, 5.0],
        "ozone": [20.0, 20.0, 20.0],
    }),
    ("alpha", {"time": [T[2]], "pm2_5": [40.0]}),  # duplicate hour
]
# (file city, [(parameter, value, hour)]); no co or so2 reading at all
LIST_DOCS = [
    ("beta", [
        ("pm25", 45.0, T[0]),
        ("pm25", 35.0, T[0]),  # duplicate reading
        ("o3", 10.0, T[0]),
        ("pm25", 40.0, T[1]),
        ("no2", 7.5, T[2]),
        ("pm10", 12.0, T[2]),
        ("pm10", 13.0, T[2]),
    ]),
]
PARAM = {"pm25": "pm2_5", "o3": "ozone", "no2": "nitrogen_dioxide", "pm10": "pm10"}

WX_HOURS = pd.date_range("2025-01-01", periods=30, freq="h")
WX_TEMP = [round(-3.0 + 1.5 * i, 1) for i in range(30)]
WX_TEMP[7] = None  # one missing temperature
WX_HUM = [40 + i for i in range(30)]
WX_WIND = [round(0.5 * i, 1) for i in range(30)]
for col in (WX_TEMP, WX_HUM, WX_WIND):
    col[12] = None  # one hour with no sensor value at all: dropped


def _land(tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    for i, (city, hourly) in enumerate(HOURLY_DOCS):
        (raw / f"{city}_raw_{i:04d}.json").write_text(
            json.dumps({"city": city, "hourly": hourly})
        )
    for i, (city, params) in enumerate(LIST_DOCS):
        ps = [
            {"parameter": p, "value": v, "lastUpdated": {"utc": f"{t}:00+00:00"}}
            for p, v, t in params
        ]
        (raw / f"{city}_raw_{100 + i:04d}.json").write_text(
            json.dumps({"results": [{"city": city, "parameters": ps}]})
        )
    weather = tmp_path / "weather.json"
    weather.write_text(json.dumps({"hourly": {
        "time": [h.strftime("%Y-%m-%dT%H:%M") for h in WX_HOURS],
        "temperature_2m": WX_TEMP,
        "relativehumidity_2m": WX_HUM,
        "windspeed_10m": WX_WIND,
    }}))
    return str(raw), str(weather)


def _expected_aq_staged() -> pd.DataFrame:
    """transform.py:89-209,244-272, eagerly: parse both shapes, mean
    duplicate parameters, drop all-null rows, mean duplicate hours, then
    the derived features."""
    rows = [
        {"city": city, "time": t, **{p: h[p][i] for p in POLLUTANTS if p in h}}
        for city, h in HOURLY_DOCS
        for i, t in enumerate(h["time"])
    ]
    long = pd.DataFrame(
        [(city, t, PARAM[p], v) for city, ps in LIST_DOCS for p, v, t in ps],
        columns=["city", "time", "param", "value"],
    )
    wide = long.pivot_table(
        index=["city", "time"], columns="param", values="value", aggfunc="mean"
    ).reset_index()
    df = pd.concat([pd.DataFrame(rows), wide], ignore_index=True)
    df = df.reindex(columns=["city", "time"] + POLLUTANTS).astype(
        {p: float for p in POLLUTANTS}
    )
    df = df.dropna(how="all", subset=POLLUTANTS)
    df = df.groupby(["city", "time"], as_index=False)[POLLUTANTS].mean()
    df["time"] = pd.to_datetime(df["time"])
    z = df[POLLUTANTS].fillna(0.0)
    df["severity"] = (
        z.pm2_5 * 5.0 + z.pm10 * 3.0 + z.nitrogen_dioxide * 4.0
        + z.sulphur_dioxide * 4.0 + z.carbon_monoxide * 2.0 + z.ozone * 3.0
    )
    df["risk_class"] = df.severity.map(
        lambda s: "High Risk" if s > 400 else ("Moderate Risk" if s > 200 else "Low Risk")
    )
    return df


def _argmax(values: pd.Series, keys: pd.Series) -> tuple:
    """pandas ``groupby().mean().idxmax()`` (etl_analysis.py:167-224)."""
    means = values.groupby(keys).mean().dropna()
    return means.idxmax(), means.max()


def _read_csv(path: str) -> pd.DataFrame:
    (part,) = glob.glob(f"{path}/part-*.csv")
    return pd.read_csv(part, dtype=str, keep_default_na=False)


def _assert_frame(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Same columns and row order; strings and integers equal, floats
    within 1e-9 relative (NULL written as an empty field)."""
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for col in want.columns:
        for g, w in zip(got[col], want[col]):
            if isinstance(w, float):
                if math.isnan(w):
                    assert g == "", (col, g)
                else:
                    assert math.isclose(float(g), w, rel_tol=1e-9), (col, g, w)
            else:
                assert g == str(w), (col, g, w)


def _run_both(spark, tmp, raw, weather):
    """Run both pipelines on the landed batch, writing under ``tmp``."""
    aq_t = aq.run_pipeline(
        spark, raw, str(tmp / "staged_aq"), str(tmp / "aq"),
        upsert=lambda df: upsert_parquet_partitioned(
            spark, df, str(tmp / "wh_aq"), ["city", "time"], "city"
        ),
    )
    wx_t = wx.run_pipeline(
        spark, weather, str(tmp / "staged_wx"), str(tmp / "wx"),
        append=lambda df: append_parquet(df, str(tmp / "wh_wx")),
    )
    assert set(aq_t) == set(wx_t) == {"transform", "load", "analysis"}


@pytest.fixture(scope="module")
def processed(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("pipelines")
    _run_both(spark, tmp, *_land(tmp))
    return tmp


def test_repeated_batch_compiles_nothing(spark, tmp_path):
    """A repeated batch finds every generated class in Spark's codegen
    cache: the pipelines' working set fits the cache ``get_spark`` sizes,
    and no plan puts per-batch values into generated code.  The first
    run upserts into an empty warehouse and the later ones merge into
    its rows, so the second and third runs run the same plans.  In a
    fresh session the three runs compile 110 classes; with Spark's
    default of 100 entries, which evicts the least recently used class
    first, the third run recompiles 30 of them."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiled = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    landed = _land(tmp_path)
    counts = []
    for _ in range(3):
        c0 = compiled.getCount()
        _run_both(spark, tmp_path, *landed)
        counts.append(compiled.getCount() - c0)
    assert counts[2] == 0, counts


def test_aq_warehouse_holds_staged_rows(spark, processed):
    want = _expected_aq_staged().sort_values(["city", "time"])
    got = (
        spark.read.parquet(str(processed / "wh_aq"))
        .toPandas().sort_values(["city", "time"]).reset_index(drop=True)
    )
    assert list(zip(got.city, got.time)) == list(zip(want.city, want.time))
    for p in POLLUTANTS + ["severity"]:
        assert got[p].fillna(-1.0).tolist() == pytest.approx(
            want[p].fillna(-1.0).tolist(), rel=1e-9
        ), p
    assert got.risk_class.tolist() == want.risk_class.tolist()


def test_aq_staged_files_are_time_sorted(processed):
    """Each staged city file keeps time order: the writer's required
    ``city`` ordering must not replace ``write_staged``'s time sort."""
    import pyarrow.parquet as pq

    files = glob.glob(str(processed / "staged_aq" / "city=*" / "*.parquet"))
    assert files
    for path in files:
        times = pq.read_table(path, columns=["time"]).column("time").to_pylist()
        assert times == sorted(times), path


def test_aq_summary_metrics(processed):
    st = _expected_aq_staged()
    out = _read_csv(str(processed / "aq" / "summary_metrics"))
    got = dict(zip(out.metric, out.value))
    want = {}
    for metric, col, keys in (
        ("city_highest_avg_pm2_5", "pm2_5", st.city),
        ("city_highest_severity", "severity", st.city),
        ("hour_with_worst_avg_pm2_5", "pm2_5", st.time.dt.hour),
    ):
        want[metric], want[f"{metric}_value"] = _argmax(st[col], keys)
    assert set(got) == set(want)
    assert got["city_highest_avg_pm2_5"] == "alpha"  # the tie breaks by key
    for metric in ("city_highest_avg_pm2_5", "city_highest_severity", "hour_with_worst_avg_pm2_5"):
        assert got[metric] == str(want[metric]), metric
        v = f"{metric}_value"
        assert math.isclose(float(got[v]), want[v], rel_tol=1e-9), v


def test_aq_city_risk_distribution(processed):
    st = _expected_aq_staged()
    want = (
        pd.crosstab(st.city, st.risk_class)
        .reindex(columns=aq.RISK_CLASSES, fill_value=0)
        .reset_index()
    )
    want["total_hours"] = want[aq.RISK_CLASSES].sum(axis=1)
    for short, cls in (("high", "High Risk"), ("moderate", "Moderate Risk"), ("low", "Low Risk")):
        want[f"pct_{short}"] = want[cls] / want.total_hours * 100
    want.columns.name = None
    got = _read_csv(str(processed / "aq" / "city_risk_distribution"))
    _assert_frame(got, want.astype({c: float for c in want.columns if c.startswith("pct_")}))
    assert set(st.risk_class) == set(aq.RISK_CLASSES)  # every class is exercised


def test_aq_pollution_trends(processed):
    st = _expected_aq_staged()
    want = st.groupby(["city", "time"], as_index=False)[["pm2_5", "pm10", "ozone"]].mean()
    got = _read_csv(str(processed / "aq" / "pollution_trends"))
    assert pd.to_datetime(got.time).dt.tz_localize(None).tolist() == want.time.tolist()
    _assert_frame(got.drop(columns="time"), want.drop(columns="time"))


def _expected_wx() -> pd.DataFrame:
    """ETL_Weather_API/transform.py:56-81: rename, coerce, drop all-null."""
    df = pd.DataFrame({
        "time": WX_HOURS,
        "temperature_c": pd.array(WX_TEMP, dtype=float),
        "relative_humidity": pd.array(WX_HUM, dtype=float),
        "wind_speed_kmh": pd.array(WX_WIND, dtype=float),
    }).dropna(how="all", subset=["temperature_c", "relative_humidity", "wind_speed_kmh"])
    return df.assign(date=df.time.dt.strftime("%Y-%m-%d"), hour=df.time.dt.hour)


def test_wx_analysis_summary(processed):
    df = _expected_wx()
    want = pd.DataFrame([{
        "rows": len(df),
        "time_min": str(df.time.min()),
        "time_max": str(df.time.max()),
        "temp_mean": df.temperature_c.mean(),
        "humidity_mean": df.relative_humidity.mean(),
        "wind_mean": df.wind_speed_kmh.mean(),
    }])
    _assert_frame(_read_csv(str(processed / "wx" / "analysis_summary")), want)


def test_wx_hourly_and_daily_avg_temp(processed):
    df = _expected_wx()
    for name, keys in (("hourly_avg_temp", ["date", "hour"]), ("daily_avg_temp", ["date"])):
        want = df.groupby(keys, as_index=False)["temperature_c"].mean()
        _assert_frame(_read_csv(str(processed / "wx" / name)), want)


# ---------- failures out of the concurrent load-and-report phase ----------


def _assert_no_active_job(spark) -> None:
    # the status store trails the scheduler by the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []


def _failing_load(df):
    raise RuntimeError("load failed")


def test_load_failure_raises_after_every_report_ends(spark, tmp_path):
    raw, _ = _land(tmp_path)
    out = tmp_path / "processed"
    with pytest.raises(RuntimeError, match="load failed"):
        aq.run_pipeline(spark, raw, str(tmp_path / "staged"), str(out), upsert=_failing_load)
    _assert_no_active_job(spark)
    # the load failed at once, yet every report ran to its end first
    for name in ("summary_metrics", "city_risk_distribution", "pollution_trends"):
        assert (out / name / "_SUCCESS").exists(), name


def test_report_failure_raises_after_load_ends(spark, tmp_path):
    _, weather = _land(tmp_path)
    out = tmp_path / "not_a_dir"
    out.write_text("")  # no report directory can be created under a file
    wh = tmp_path / "wh"
    with pytest.raises(Exception, match="not_a_dir"):
        wx.run_pipeline(
            spark, weather, str(tmp_path / "staged"), str(out),
            append=lambda df: append_parquet(df, str(wh)),
        )
    _assert_no_active_job(spark)
    assert spark.read.parquet(str(wh)).count() == len(_expected_wx())


def test_first_failure_in_submission_order_wins(spark, tmp_path):
    raw, _ = _land(tmp_path)
    out = tmp_path / "not_a_dir"
    out.write_text("")
    with pytest.raises(RuntimeError, match="load failed"):
        aq.run_pipeline(spark, raw, str(tmp_path / "staged"), str(out), upsert=_failing_load)
    _assert_no_active_job(spark)


def test_report_plans_are_built_before_any_write_starts():
    # a fixed order keeps the upsert's jobs queued behind the reports'
    # on every op, whatever the relative speed of plan building and jobs
    events = []

    def analyze(staged):
        events.append("analyze")
        return {}

    run_medallion(lambda: "staged", lambda df: events.append("load"), analyze, "unused")
    assert events == ["analyze", "load"]


def test_analyze_failure_submits_no_write():
    loaded = []

    def analyze(staged):
        raise RuntimeError("analyze failed")

    with pytest.raises(RuntimeError, match="analyze failed"):
        run_medallion(lambda: "staged", loaded.append, analyze, "unused")
    assert loaded == []


# ---------- py4j round trips of plan building ----------

# Call, reflection and constructor commands that building both
# pipelines' plans on the landed batch sends.  A change that adds round
# trips fails here on any box; lower the pin when a change removes some.
BUILD_ROUND_TRIPS = 594


def _round_trips(spark, build) -> int:
    """py4j call (``c``), reflection (``r``) and constructor (``i``)
    commands ``build()`` sends.  Object-release messages depend on when
    Python frees objects, so they are not counted, and the collector is
    off meanwhile."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    kinds = Counter()

    def counting(command, *args, **kwargs):
        kinds[command[:1]] += 1
        return send(command, *args, **kwargs)

    gc.disable()
    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
        gc.enable()
    return kinds["c"] + kinds["r"] + kinds["i"]


def test_get_spark_turns_off_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert is_debugging_enabled() is False


def test_each_feature_costs_at_most_three_round_trips(spark):
    """A feature is one ``F.expr`` over its SQL body: a reflection lookup
    of the JVM ``functions`` class, one of its ``expr`` member and the
    call.  The same feature as a ``Column``-method chain costs one or
    more round trips per method."""
    builds = {
        "aqi_category_pm25": lambda: features.aqi_category_pm25("pm2_5"),
        "severity_score": features.severity_score,
        "risk_class_from_severity": lambda: features.risk_class_from_severity("severity"),
        "temp_category": lambda: features.temp_category("temperature_c"),
        "feels_like_c": features.feels_like_c,
    }
    costs = {name: _round_trips(spark, build) for name, build in builds.items()}
    assert max(costs.values()) <= 3, costs


def test_plan_building_round_trips_are_pinned(spark, tmp_path):
    raw, weather = _land(tmp_path)

    def build():
        aq.analyze(aq.transform(aq.parse_raw(aq.read_raw(spark, raw))))
        wx.analyze(wx.transform(wx.flatten(wx.read_raw(spark, weather))))

    build()  # first calls may fill caches on either side of the gateway
    assert _round_trips(spark, build) == BUILD_ROUND_TRIPS
