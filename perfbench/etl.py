"""The ``etl_medallion`` workload: the two medallion pipelines on seeded
raw batches landed on disk.

One op is one batch: its raw JSON is landed (untimed), then
``pipelines.air_quality.run_pipeline`` upserts it into a city-partitioned
warehouse through ``sources.sinks.upsert_parquet_partitioned`` and
``pipelines.weather.run_pipeline`` appends its weather rows through
``sources.sinks.append_parquet``.  Both pipelines also write their
staged parquet and processed CSVs.

After each op the warehouse is read back with pyarrow, outside the
engine: the AQ table must hold exactly the (city, hour) keys landed so
far with the latest batch's readings, and the weather table every row
ever appended.
"""

from __future__ import annotations

import json
import os
import sys
import time

import datagen
import pyarrow.parquet as pq

AQ_KEYS = ["city", "time"]
WARM_BATCHES = 1  # batches loaded, untimed, before the timed loop


def _data_files(root: str) -> dict[str, tuple]:
    """path -> (inode, mtime_ns, size) of every parquet file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class EtlMedallion:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.aq_wh = os.path.join(work, "warehouse", "air_quality")
        self.wx_wh = os.path.join(work, "warehouse", "weather")
        self.expected: dict = {}  # (city, hour) -> readings, latest batch wins
        self.wx_rows = 0
        self.raw_bytes = 0
        self.batches = 0  # batches landed, warm-up included
        self.cycle = 1  # every op is one batch of the same shape
        self.verdicts: list[bool] = []
        self.stored_ratio: float | None = None

    def setup(self, spark) -> dict:
        self.spark = spark
        return {}

    def warm(self) -> None:
        for i in range(WARM_BATCHES):
            self.op(-1 - i, keep=False)

    def _land(self, batch: int) -> tuple[str, str, dict, int]:
        values = datagen.aq_values(self.seed, batch)
        raw = os.path.join(self.work, "raw", f"batch_{batch:04d}")
        os.makedirs(os.path.join(raw, "aq"))
        nbytes = 0
        for city, doc in datagen.aq_batch(values).items():
            path = os.path.join(raw, "aq", f"{city}_raw_{batch:04d}.json")
            with open(path, "w") as f:
                json.dump(doc, f)
            nbytes += os.path.getsize(path)
        wx = os.path.join(raw, f"weather_{batch:04d}.json")
        with open(wx, "w") as f:
            json.dump(datagen.weather_batch(self.seed, batch), f)
        nbytes += os.path.getsize(wx)
        return os.path.join(raw, "aq"), wx, values, nbytes

    def op(self, i: int, tracer=None, keep: bool = True) -> tuple[float, dict]:
        """Land and load one batch.  Warm-up ops pass negative ``i``; the
        batch number counts every op of the run in order."""
        from advanced_etl_pipelines_spark.operators.caching import (
            release_tracked_caches,
        )
        from advanced_etl_pipelines_spark.pipelines import air_quality, weather
        from advanced_etl_pipelines_spark.sources.sinks import (
            append_parquet,
            upsert_parquet_partitioned,
        )

        batch = self.batches
        self.batches += 1
        aq_raw, wx_raw, values, nbytes = self._land(batch)
        self.raw_bytes += nbytes
        out = os.path.join(self.work, "out")
        sink_s = {"upsert": 0.0, "append": 0.0}
        loaded = set()  # sinks whose write returned

        def upsert(df):
            t = time.perf_counter()
            upsert_parquet_partitioned(self.spark, df, self.aq_wh, AQ_KEYS, "city")
            sink_s["upsert"] = time.perf_counter() - t
            loaded.add("upsert")
            if tracer is not None:
                tracer.add("sinks.upsert", i, "pipelines.air_quality", t, t + sink_s["upsert"])

        def append(df):
            t = time.perf_counter()
            append_parquet(df, self.wx_wh)
            sink_s["append"] = time.perf_counter() - t
            loaded.add("append")
            if tracer is not None:
                tracer.add("sinks.append", i, "pipelines.weather", t, t + sink_s["append"])

        before = (_data_files(self.aq_wh), _data_files(self.wx_wh)) if tracer else None
        ids0 = tracer.ids() if tracer else None
        layers: dict = {}
        ok = True
        t0 = time.perf_counter()
        try:
            aq_t = air_quality.run_pipeline(
                self.spark, aq_raw, f"{out}/staged/air_quality",
                f"{out}/processed/air_quality", upsert=upsert,
            )
            t1 = time.perf_counter()
            wx_t = weather.run_pipeline(
                self.spark, wx_raw, f"{out}/staged/weather",
                f"{out}/processed/weather", append=append,
            )
            t2 = time.perf_counter()
            release_tracked_caches()
            wall = time.perf_counter() - t0
        except Exception as e:  # the op failed: count it, keep the loop going
            print(f"op {i} batch {batch} raised {type(e).__name__}: {e}"[:400], file=sys.stderr, flush=True)
            wall = time.perf_counter() - t0
            ok = False
        # only what reached the warehouse is expected there, so a failed
        # batch fails its own check and not every later one
        if "upsert" in loaded:
            self.expected.update(values)
        if "append" in loaded:
            self.wx_rows += datagen.WX_HOURS
        if ok and tracer is not None:
            layers = self._trace(tracer, i, (t0, t1, t2, t0 + wall), aq_t, wx_t, sink_s, ids0, before, nbytes, out)
        try:
            ok = ok and self._check(values)
        except Exception as e:
            print(f"check of batch {batch} raised {type(e).__name__}: {e}"[:400], file=sys.stderr, flush=True)
            ok = False
        if keep:
            self.verdicts.append(ok)
            if self.stored_ratio is None:
                # taken once, after the first timed op (the second batch,
                # an upsert over half-overlapping keys), so the ratio
                # covers the merge path and does not depend on how many
                # ops the timed window fits
                stored = sum(
                    sig[2]
                    for root in (self.aq_wh, self.wx_wh)
                    for sig in _data_files(root).values()
                )
                self.stored_ratio = stored / self.raw_bytes
        return wall, layers

    def _trace(self, tracer, i, t, aq_t, wx_t, sink_s, ids0, before, nbytes, out) -> dict:
        t0, t1, t2, t3 = t
        tracer.add("op", i, None, t0, t3)
        for name, (s, e), timings in (
            ("pipelines.air_quality", (t0, t1), aq_t),
            ("pipelines.weather", (t1, t2), wx_t),
        ):
            tracer.add(name, i, "op", s, e)
            # run_pipeline reports step durations, not start times: its
            # transform step opens the call and its analysis step closes it
            tracer.add("pipelines.transform", i, name, s, s + timings["transform"])
            tracer.add("pipelines.analysis", i, name, e - timings["analysis"], e)
        tracer.add("caching.release", i, "op", t2, t3)
        with tracer.span("trace.read", i, None):
            layers = tracer.spark_counters(ids0, tracer.ids())
            written = 0
            files = 0
            for root, old in zip((self.aq_wh, self.wx_wh), before):
                for p, sig in _data_files(root).items():
                    if old.get(p) != sig:
                        files += 1
                        written += sig[2]
            rows = 0
            for d, _, fs in os.walk(os.path.join(out, "processed")):
                for f in fs:
                    if f.endswith(".csv"):
                        with open(os.path.join(d, f)) as fh:
                            rows += max(sum(1 for _ in fh) - 1, 0)
        layers.update(
            {
                "pipelines.transform_s": aq_t["transform"] + wx_t["transform"],
                "pipelines.load_s": aq_t["load"] + wx_t["load"],
                "pipelines.analysis_s": aq_t["analysis"] + wx_t["analysis"],
                "sinks.upsert_s": sink_s["upsert"],
                "sinks.append_s": sink_s["append"],
                "sinks.written_bytes_per_input_byte": written / nbytes,
                "sinks.files_written": files,
                "collect.rows": rows,
                "caching.release_s": t3 - t2,
                "op.wall_s": t3 - t0,
            }
        )
        return layers

    def _check(self, latest: dict) -> bool:
        """Warehouse keys == keys landed so far, each once; the latest
        batch's readings win; every weather row appended is present."""
        aq = pq.read_table(self.aq_wh).to_pydict()
        got = {
            (city, ts.replace(tzinfo=None)): j
            for j, (city, ts) in enumerate(zip(aq["city"], aq["time"]))
        }
        ok = len(got) == len(aq["city"]) and got.keys() == self.expected.keys()
        ok = ok and all(
            abs(aq[p][got[key]] - v) <= 1e-9
            for key, readings in latest.items()
            for p, v in readings.items()
        )
        wx = sum(pq.ParquetFile(p).metadata.num_rows for p in _data_files(self.wx_wh))
        ok = ok and wx == self.wx_rows
        if not ok:
            print("check: warehouse does not match the batches landed", file=sys.stderr, flush=True)
        return ok

    def check(self) -> list[bool]:
        return self.verdicts

    def stored_bytes_per_input_byte(self) -> float:
        """Warehouse parquet bytes per raw JSON byte landed, after the
        first timed op."""
        return self.stored_ratio
