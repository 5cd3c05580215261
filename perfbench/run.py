"""Closed-loop benchmark of the engine: one client, one op at a time.

    python3 perfbench/run.py --workload registry_short --seed 1 --seconds 15 --trace 0

Workloads (see README.md for why each exists):

* ``registry_short`` - a frozen, stratified sample of the overhead-bound
  registry queries over block-cached tables (``registry.py``);
* ``etl_medallion`` - raw batches through the two medallion pipelines
  into an upserted and an appended warehouse (``etl.py``).

A run starts a fresh Spark session (``local[min(4, nproc)]``, 2 GB
driver heap), sets up its workload, makes one untimed warm pass, then
runs ops back to back for ``--seconds`` (finishing the pass over the op
list it is in) and checks every answer.  With ``--trace 1`` it then
replays one pass over the op list with spans and
Spark counters recorded at each layer boundary, writes the spans to
``perfbench/traces/`` and reports per-layer means instead of the
end-to-end metrics.  Everything it writes goes under ``perfbench/.run/``
(deleted at exit) or ``perfbench/traces/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "advanced_etl_pipelines_spark"

DRIVER_HEAP = "2g"
MAX_CORES = 4
SHORT_SAMPLE = 16  # registry_short: queries in the op list
# Read by the package from the caller's environment; cleared so that the
# package's own defaults (or Spark's, for the BLAS thread counts) apply.
CLEARED_ENV = (
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_ARROW_BATCH",
    "SPARK_GRAFT_CPUS",
    "SPARK_MASTER",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
)

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.cache_s": "s",
    "sources.cache_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.cpu_share": "ratio",
    "collect.s": "s",
    "collect.rows": "count",
    "caching.release_s": "s",
    "caching.released": "count",
    "pipelines.transform_s": "s",
    "pipelines.load_s": "s",
    "pipelines.analysis_s": "s",
    "sinks.upsert_s": "s",
    "sinks.append_s": "s",
    "sinks.written_bytes_per_input_byte": "ratio",
    "sinks.files_written": "count",
    "op.wall_s": "s",
    "trace.overhead_ops_per_s": "1/s",
}


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it.  Below 21 samples that percentile would fall under
    the median, so the median is reported instead."""
    if len(times) < 21:
        return statistics.median(times), 50.0
    s = sorted(times)
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus the driver Python's ru_maxrss."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, fix the heap and
    clear the knobs the package reads from the environment."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    for name in CLEARED_ENV:
        os.environ.pop(name, None)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)


def start_spark(work: str, cores: int):
    from advanced_etl_pipelines_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a fixed heap (-Xms = -Xmx) keeps the JVM's peak RSS from
            # depending on when G1 decides to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={work}/tmp"
            f" -Dderby.system.home={work}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)


def closed_loop(wl, seconds: float, tracer=None, n_ops: int | None = None):
    """Ops back to back, each started after the previous returned: for
    ``seconds`` and then to the end of the current pass over the op list
    (untraced), or for ``n_ops`` ops (traced replay).  Whole passes keep
    every op of the list equally often in the sample; a partial last pass
    would over-weight whichever ops the seed's order put first."""
    times, records = [], []
    t0 = time.perf_counter()
    i = 0
    while (
        (time.perf_counter() - t0 < seconds or i % wl.cycle)
        if n_ops is None
        else i < n_ops
    ):
        wall, layers = wl.op(i, tracer)
        times.append(wall)
        records.append(layers)
        i += 1
    return times, records, time.perf_counter() - t0


def metric_block(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["registry_short", "etl_medallion"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--ops", type=int, default=SHORT_SAMPLE,
        help=f"registry_short only: queries in the op list (default {SHORT_SAMPLE});"
        " a hook for the smoke test, the benchmark uses the default",
    )
    args = ap.parse_args(argv)
    if args.workload != "registry_short" and args.ops != SHORT_SAMPLE:
        ap.error("--ops applies to registry_short only")

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ package next to {HERE}: nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    pin_environment(work)
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    spark = None
    try:
        if args.workload == "registry_short":
            from registry import RegistryShort

            wl = RegistryShort(work, args.seed, args.ops)
        else:
            from etl import EtlMedallion

            wl = EtlMedallion(work, args.seed)

        t = time.perf_counter()
        spark = start_spark(work, cores)
        setup_layers = {"session.start_s": time.perf_counter() - t}
        setup_layers.update(wl.setup(spark))
        wl.warm()
        setup_s = time.perf_counter() - T_START

        times, _, window = closed_loop(wl, args.seconds)
        p50 = statistics.median(times)
        tail_s, tail_pct = tail(times)
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "op_tail_s": tail_s,
            "ops_per_s": len(times) / window,
            "peak_rss_mb": peak_rss_mb(spark),
            "stored_bytes_per_input_byte": wl.stored_bytes_per_input_byte(),
        }
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "master": f"local[{cores}]",
            "driver_heap": DRIVER_HEAP,
            "spark_version": spark.version,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "arrow_batch": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
            "samples": len(times),
            "op_tail_percentile": round(tail_pct, 1),
        }
        if getattr(wl, "names", None):
            info["op_list"] = wl.names

        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            ttimes, records, twindow = closed_loop(wl, 0, tracer, n_ops=wl.cycle)
            layers = {k: 0.0 for k in LAYER_UNITS}
            layers.update(setup_layers)
            traced = [r for r in records if r]
            for k in LAYER_UNITS:
                vals = [r[k] for r in traced if k in r]
                if vals:
                    layers[k] = sum(vals) / len(traced)
            if layers["op.wall_s"]:
                layers["exec.cpu_share"] = layers["exec.cpu_s"] / (layers["op.wall_s"] * cores)
            layers["trace.overhead_ops_per_s"] = e2e["ops_per_s"] - len(ttimes) / twindow
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            span_file = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(span_file)
            info["spans"] = os.path.relpath(span_file, ROOT)
            info["spans_written"] = len(tracer.spans)
            metrics = metric_block(layers, LAYER_UNITS)
        else:
            metrics = metric_block(e2e, E2E_UNITS)

        verdicts = wl.check()
        failed = verdicts.count(False)
        info["error_rate"] = failed / len(verdicts)
        print(json.dumps({"run": info}))
        if args.trace:
            print(json.dumps({"untraced": metric_block(e2e, E2E_UNITS)}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(verdicts),
                    "failed": failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
