"""Standalone per-query profiler: best-of-N wall time + Spark job count
for a named subset of registry queries, cached-table harness (same as
bench.py), so an optimization round can see WHERE a query's time goes
(many small driver-loop jobs vs one heavy stage) before touching it.

Usage: python scripts/profile_queries.py q1 q2 ...  [-n RUNS]
       python scripts/profile_queries.py --top K    (K slowest from the
                                                     committed baseline)
Prints one line per query: best sec, build/exec split of the best run,
and the number of Spark jobs the best run launched.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("-n", "--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = list(args.names)
    if args.top:
        with open(os.path.join(here, "bench_queries.json")) as f:
            base = json.load(f)["queries"]
        names += [
            k
            for k, _ in sorted(base.items(), key=lambda kv: -kv[1])[
                : args.top
            ]
            if k not in names
        ]

    from advanced_etl_pipelines_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("profile-queries", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from advanced_etl_pipelines_spark.operators.caching import (
        release_tracked_caches,
    )
    from advanced_etl_pipelines_spark.sources.readers import cache_sf_tables

    cache_sf_tables(spark, args.sf_dir)
    queries = e.queries()

    # Count jobs by the DAG scheduler's next job ID (all jobs, any thread):
    # setJobGroup is thread-local under pinned-thread PySpark, so jobs
    # launched from worker threads (e.g. ann_recall_report's
    # ThreadPoolExecutor index builds) never join a group, and the status
    # store's job list is capped at spark.ui.retainedJobs (1000) entries.
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def n_jobs() -> int:
        return dag.nextJobId()

    # warm the JVM on the first named query once, untimed
    if names:
        queries[names[0]](spark, args.sf_dir).collect()
        release_tracked_caches()

    print(f"{'query':42s} {'best':>7s} {'build':>7s} {'exec':>7s} {'jobs':>5s}")
    for name in names:
        fn = queries[name]
        best, bb, be, bj = float("inf"), 0.0, 0.0, 0
        for run in range(args.runs):
            j0 = n_jobs()
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            njobs = n_jobs() - j0
            if t2 - t0 < best:
                best, bb, be, bj = t2 - t0, t1 - t0, t2 - t1, njobs
            release_tracked_caches()
        print(f"{name:42s} {best:7.3f} {bb:7.3f} {be:7.3f} {bj:5d}")


if __name__ == "__main__":
    main()
