"""Medallion pipelines and the orchestrator they share."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame

from advanced_etl_pipelines_spark.sources.sinks import write_csv_report


def _end_time(action: Callable[[], None]) -> float:
    action()
    return time.perf_counter()


def run_medallion(
    stage: Callable[[], DataFrame],
    load: Callable[[DataFrame], None] | None,
    analyze: Callable[[DataFrame], dict[str, DataFrame]] | None,
    processed_dir: str,
) -> dict[str, float]:
    """``stage()`` writes the staged table and returns it re-read; then the
    ``load`` hook and one ``write_csv_report`` per ``analyze`` output run as
    concurrent Spark actions, the load submitted first as the critical path.
    All of them end before the first failure in submission order is
    re-raised, so no write outlives the call (`etl_pipeline.py:62-79`).
    The report plans are built before any write is submitted, so the jobs
    of the writes reach Spark's FIFO scheduler in the same order on every
    call, whatever the relative speed of plan building and jobs.

    Returns seconds per step: ``transform``, and ``load``/``analysis`` when
    run, both timed from the start of the concurrent phase, so they overlap.
    """
    t0 = time.perf_counter()
    staged = stage()
    start = time.perf_counter()
    timings = {"transform": start - t0}
    actions = [] if load is None else [("load", partial(load, staged))]
    if analyze is not None:
        actions += [
            ("analysis", partial(write_csv_report, df, f"{processed_dir}/{name}"))
            for name, df in analyze(staged).items()
        ]
    with ThreadPoolExecutor(max_workers=len(actions) or 1) as pool:
        futures = [(step, pool.submit(_end_time, fn)) for step, fn in actions]
    for step, future in futures:
        timings[step] = max(timings.get(step, 0.0), future.result() - start)
    return timings
