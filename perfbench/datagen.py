"""Seeded inputs for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` lands the ten registry tables (TPC-H-style star
  schema plus ``events``, ``documents`` and ``embeddings``) as one
  parquet file each, with the schemas, key ranges and value
  distributions of the engine's sf0.01 test data.  The benchmark makes
  its own tables because it may read nothing outside its checkout.
* ``aq_batch`` / ``weather_batch`` build the raw JSON payloads of one
  ETL batch.  AQ batch ``b`` covers ``AQ_HOURS`` hours starting
  ``b * AQ_HOURS // 2`` hours after ``ETL_T0``, so each batch overlaps
  half of the previous one and the warehouse upsert replaces rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the engine's sf0.01 test tables.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
N_PROPS = 100
EMB_DIM = 64
DUP_SHARE = 0.05  # documents that repeat another document plus " dup"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, n, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days + 1
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _pick(rng, choices, n, p=None) -> list:
    return [choices[i] for i in rng.choice(len(choices), n, p=p)]


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0])
    n = ROWS
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    keys = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _pick(rng, PART_ADJ, n["part"]),
                    _pick(rng, PART_NOUN, n["part"]),
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": _days(
                rng, n["orders"], dt.date(1995, 1, 1), dt.date(2001, 8, 1)
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, m),
            "l_discount": np.round(rng.uniform(0, 0.10, m), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, m), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, m, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    t["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, e),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, N_PROPS, e)],
        }
    )
    d = n["documents"]
    texts = [
        " ".join(_pick(rng, VOCAB, int(rng.integers(10, 100))))
        for _ in range(d)
    ]
    for i in rng.choice(d, int(d * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, d, LANG_P),
            "source": [f"src{k % 20}" for k in range(d)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centres = rng.normal(size=(10, EMB_DIM))
    centres *= 1.15 / np.linalg.norm(centres, axis=1, keepdims=True)
    x = rng.normal(size=(v, EMB_DIM)) + centres[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(v, dtype=np.int64),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_tables(seed: int, out_dir: str) -> int:
    """Write every table to ``out_dir/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# ---- ETL raw batches --------------------------------------------------

AQ_CITIES = ["delhi", "mumbai", "pune", "kolkata", "chennai"]
HOURLY_SHAPE_CITIES = 3  # the first three land as `hourly`, the rest as `results`
AQ_HOURS = 240
WX_HOURS = 240
ETL_T0 = dt.datetime(2025, 1, 1)
POLLUTANTS = [
    "pm10",
    "pm2_5",
    "carbon_monoxide",
    "nitrogen_dioxide",
    "sulphur_dioxide",
    "ozone",
    "uv_index",
]
# measurement-list parameter names, mapped back by the pipeline's synonyms
PARAM_NAMES = {
    "pm10": "pm10",
    "pm2_5": "pm25",
    "carbon_monoxide": "co",
    "nitrogen_dioxide": "no2",
    "sulphur_dioxide": "so2",
    "ozone": "o3",
    "uv_index": "uv",
}
POLLUTANT_SCALE = {
    "pm10": 150.0,
    "pm2_5": 90.0,
    "carbon_monoxide": 900.0,
    "nitrogen_dioxide": 60.0,
    "sulphur_dioxide": 30.0,
    "ozone": 120.0,
    "uv_index": 8.0,
}


def batch_hours(batch: int, hours: int) -> list[dt.datetime]:
    first = ETL_T0 + dt.timedelta(hours=batch * (hours // 2))
    return [first + dt.timedelta(hours=h) for h in range(hours)]


def aq_values(seed: int, batch: int) -> dict[tuple[str, dt.datetime], dict]:
    """(city, hour) -> pollutant readings of one AQ batch.  A key that two
    batches share gets fresh readings in each, so the upsert must let the
    later batch win."""
    rng = np.random.default_rng([seed, 1, batch])
    hours = batch_hours(batch, AQ_HOURS)
    out = {}
    for city in AQ_CITIES:
        vals = {
            p: np.round(rng.uniform(0.1, POLLUTANT_SCALE[p], len(hours)), 2)
            for p in POLLUTANTS
        }
        for i, h in enumerate(hours):
            out[(city, h)] = {p: float(vals[p][i]) for p in POLLUTANTS}
    return out


def aq_batch(values: dict[tuple[str, dt.datetime], dict]) -> dict[str, dict]:
    """City -> raw JSON payload, mixing the two AQ raw shapes: the
    Open-Meteo ``hourly`` struct of arrays and the OpenAQ-style
    ``results[].parameters[]`` list."""
    files = {}
    for ci, city in enumerate(AQ_CITIES):
        keys = sorted(h for c, h in values if c == city)
        if ci < HOURLY_SHAPE_CITIES:
            hourly = {"time": [h.strftime("%Y-%m-%dT%H:%M") for h in keys]}
            for p in POLLUTANTS:
                hourly[p] = [values[(city, h)][p] for h in keys]
            files[city] = {"city": city, "hourly": hourly}
        else:
            params = [
                {
                    "parameter": PARAM_NAMES[p],
                    "value": values[(city, h)][p],
                    "lastUpdated": {"utc": h.strftime("%Y-%m-%dT%H:%M:%S+00:00")},
                }
                for h in keys
                for p in POLLUTANTS
            ]
            files[city] = {"results": [{"city": city, "parameters": params}]}
    return files


def weather_batch(seed: int, batch: int) -> dict:
    """One Open-Meteo forecast document of ``WX_HOURS`` hours."""
    rng = np.random.default_rng([seed, 2, batch])
    hours = batch_hours(batch, WX_HOURS)
    return {
        "latitude": 28.6,
        "longitude": 77.2,
        "timezone": "Asia/Kolkata",
        "hourly": {
            "time": [h.strftime("%Y-%m-%dT%H:%M") for h in hours],
            "temperature_2m": np.round(rng.uniform(2, 44, len(hours)), 1).tolist(),
            "relativehumidity_2m": rng.integers(10, 100, len(hours)).tolist(),
            "windspeed_10m": np.round(rng.uniform(0, 40, len(hours)), 1).tolist(),
        },
    }
