"""Weather raw-shape robustness: missing metric arrays pad to NULL like
the reference's hourly.get(key, []) default."""

from __future__ import annotations

import json

from advanced_etl_pipelines_spark.pipelines import weather as wx
from advanced_etl_pipelines_spark.sources.http import fetch_partition


def test_missing_metric_array_pads_null(spark, tmp_path):
    payload = {
        "hourly": {
            "time": ["2025-12-11T00:00", "2025-12-11T01:00"],
            "temperature_2m": [14.8, 14.2],
            "relativehumidity_2m": [54, 53],
            # windspeed_10m absent entirely
        }
    }
    p = tmp_path / "weather_20251211_000000.json"
    p.write_text(json.dumps(payload))
    staged = wx.transform(wx.flatten(wx.read_raw(spark, str(p))))
    rows = sorted(staged.collect(), key=lambda r: r["time"])
    assert len(rows) == 2
    assert rows[0]["temperature_c"] == 14.8
    assert rows[0]["wind_speed_kmh"] is None
    assert rows[0]["temp_category"] == "mild"


def test_short_metric_array_pads_null(spark, tmp_path):
    payload = {
        "hourly": {
            "time": ["2025-12-11T00:00", "2025-12-11T01:00"],
            "temperature_2m": [14.8],  # shorter than time
            "relativehumidity_2m": [54, 53],
            "windspeed_10m": [1.6, 1.3],
        }
    }
    p = tmp_path / "weather_20251211_000000.json"
    p.write_text(json.dumps(payload))
    staged = wx.transform(wx.flatten(wx.read_raw(spark, str(p))))
    rows = sorted(staged.collect(), key=lambda r: r["time"])
    assert rows[1]["temperature_c"] is None  # index-safe zip padded
    assert rows[1]["relative_humidity"] == 53.0


def test_fetch_partition_generator():
    """The mapPartitions fetch body: yields (name, json) for successes
    and (name, None) for failures, so none is dropped silently — no
    Spark needed to test the generator."""

    def transport(url, params, timeout):
        if "bad" in url:
            raise ConnectionError("down")
        return 200, json.dumps({"u": url})

    out = list(
        fetch_partition(
            iter(
                [
                    ("a", "http://a", {}),
                    ("bad", "http://bad", {}),
                    ("c", "http://c", {}),
                ]
            ),
            transport=transport,
            max_retries=1,
            sleep=lambda s: None,
        )
    )
    assert [n for n, _ in out] == ["a", "bad", "c"]
    assert json.loads(out[0][1]) == {"u": "http://a"}
    assert out[1][1] is None
