"""The ``registry_short`` workload: registry queries run one at a time
against a live session, over block-cached tables.

The op list is a stratified sample of the short band frozen in
``short_band.json`` (the queries the parent's committed
``bench_queries.json`` timed under 0.5 s): the band is sorted by that
reference time, cut into ``k`` equal strata, and one query is drawn
from each with the fixed ``LIST_SEED``.  The run's seed shuffles the op
order and generates the tables.  Drawing the list by the run's seed was
tried and was too noisy: on 4 cores the band's queries cost 0.1 to
3.4 s each, so with ``k`` = 12 to 20 the op mix alone moved
``ops_per_s`` by 14 to 24 % (quartile spread over seeds).

Every op's answer is compared after the timed loop with the DuckDB
``ORACLE_SQL`` answer over the same parquet files, using the oracle
gate's own cell normalisation.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import datagen
from spans import MB, catalyst_phases

BAND_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "short_band.json")
LIST_SEED = 0


def band() -> dict[str, float]:
    with open(BAND_FILE) as f:
        return json.load(f)["queries"]


def sample(k: int) -> list[str]:
    """One query from each of ``k`` strata of the band ordered by its
    reference time, drawn with the fixed ``LIST_SEED``."""
    ranked = sorted(band().items(), key=lambda kv: (kv[1], kv[0]))
    rng = random.Random(LIST_SEED)
    bounds = [round(i * len(ranked) / k) for i in range(k + 1)]
    return [ranked[rng.randrange(lo, hi)][0] for lo, hi in zip(bounds, bounds[1:])]


class RegistryShort:
    def __init__(self, work: str, seed: int, k: int):
        self.data_dir = os.path.join(work, "data")
        self.work = work
        self.seed = seed
        self.names = sample(k)
        random.Random(seed).shuffle(self.names)
        self.cycle = k  # ops in one pass over the op list
        self.results: list[tuple[str, list[str] | None, list | None]] = []
        self.input_bytes = 0
        self.cache_bytes = 0

    def setup(self, spark) -> dict:
        from advanced_etl_pipelines_spark.plans.registry import QUERIES
        from advanced_etl_pipelines_spark.sources.readers import cache_sf_tables

        self.spark = spark
        self.queries = QUERIES
        self.input_bytes = datagen.write_tables(self.seed, self.data_dir)
        cache_s = cache_sf_tables(spark, self.data_dir)
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cache_bytes = sum(i.memSize() + i.diskSize() for i in infos)
        return {"sources.cache_s": cache_s, "sources.cache_mb": self.cache_bytes / MB}

    def warm(self) -> None:
        for i in range(len(self.names)):
            self.op(i, keep=False)

    def op(self, i: int, tracer=None, keep: bool = True) -> tuple[float, dict]:
        """Run op ``i`` (query ``names[i % k]``); returns its wall time
        and, when traced, its per-layer record.  The answer is kept for
        ``check``; an exception keeps ``None``."""
        from advanced_etl_pipelines_spark.operators.caching import (
            release_tracked_caches,
        )

        name = self.names[i % len(self.names)]
        fn = self.queries[name]
        cols = rows = None
        layers: dict = {}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = fn(self.spark, self.data_dir)
                rows = df.collect()
                cols = df.columns
                release_tracked_caches()
                wall = time.perf_counter() - t0
            else:
                ids0 = tracer.ids()
                with tracer.span("plans.build", i, "op"):
                    df = fn(self.spark, self.data_dir)
                ids1 = tracer.ids()
                t1 = time.perf_counter()
                with tracer.span("collect", i, "op"):
                    rows = df.collect()
                t2 = time.perf_counter()
                cols = df.columns
                with tracer.span("caching.release", i, "op"):
                    released = release_tracked_caches()
                t3 = time.perf_counter()
                wall = t3 - t0
                tracer.add("op", i, None, t0, t3)
                with tracer.span("trace.read", i, None):
                    layers = tracer.spark_counters(ids0, tracer.ids())
                    layers.update(catalyst_phases(df))
                layers.update(
                    {
                        "plans.build_s": t1 - t0,
                        "plans.build_jobs": ids1[0] - ids0[0],
                        "collect.s": t2 - t1,
                        "collect.rows": len(rows),
                        "caching.release_s": t3 - t2,
                        "caching.released": released,
                        "op.wall_s": wall,
                    }
                )
        except Exception as e:  # the op failed: count it, keep the loop going
            print(f"op {i} {name} raised {type(e).__name__}: {e}"[:400], file=sys.stderr, flush=True)
            wall = time.perf_counter() - t0
        if keep:
            self.results.append((name, cols, rows))
        return wall, layers

    def stored_bytes_per_input_byte(self) -> float:
        """Block-cache bytes held for the tables per parquet byte read."""
        return self.cache_bytes / self.input_bytes

    def check(self) -> list[bool]:
        """One verdict per kept op, against the DuckDB oracle."""
        import duckdb
        from advanced_etl_pipelines_spark.plans.registry import (
            ORACLE_SQL,
            SF_PINNED_ORACLES,
        )
        saved = list(sys.path)
        from scripts.check_oracle import row_multiset

        sys.path[:] = saved  # the script prepends its own repo path on import
        con = duckdb.connect()
        con.execute("SET memory_limit='1GB'")
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
        for t in datagen.ROWS.keys() | {"region", "nation"}:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        expected: dict[str, tuple | None] = {}
        verdicts = []
        for name, cols, rows in self.results:
            if rows is None:
                verdicts.append(False)
                continue
            if name not in ORACLE_SQL or name in SF_PINNED_ORACLES:
                verdicts.append(len(rows) > 0)
                continue
            if name not in expected:
                try:
                    res = con.execute(ORACLE_SQL[name])
                    dcols = [d[0] for d in res.description]
                    drows = res.fetchall()
                    expected[name] = (sorted(dcols), len(drows), row_multiset(drows, dcols))
                except duckdb.Error as e:
                    print(f"oracle {name} raised: {e}"[:400], file=sys.stderr, flush=True)
                    expected[name] = None
            exp = expected[name]
            ok = (
                exp is not None
                and exp[0] == sorted(cols)
                and exp[1] == len(rows)
                and exp[2] == row_multiset(rows, cols)
            )
            if not ok:
                print(f"check {name}: answer differs from the DuckDB oracle", file=sys.stderr, flush=True)
            verdicts.append(ok)
        con.close()
        return verdicts
