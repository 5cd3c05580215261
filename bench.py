"""Benchmark driver: run every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE SHORT JSON summary line as the LAST line of stdout
({"metric", "value", "unit", "sf", "n_queries", "queries"}) sized to
survive tail-capture, and writes the full per-query timing map to
bench_queries.json next to this script.  Round 1's driver recorded
"parsed": null because 151 inline per-query timings overflowed the
driver's capture window — the summary line now carries only the top-10
slowest queries inline; the complete map lives in the artifact file.

Timing = wall-clock of plan construction + collect() per query, warm
session (JVM/session startup excluded), best of RUNS.  `value` is the
sum over all queries — the headline "full registry sweep" number
recorded per round against BASELINE.md.  Every query is timed by
time_query(), which also counts the Spark jobs its best run launched
and the generated classes each run compiled; the artifact carries them
as per-query `jobs` and `compiles` ([cold, warm]) maps plus
splits.jobs_total and splits.compiles_total.  Neither count moves with
box speed, so a change in them is a change in the code's work, read
directly off two artifacts; probe_sec is the box-speed index.

Regression guard (round-6 VERDICT item 7): at the default sf each
query's time is checked against the COMMITTED bench_queries.json with a
budget of 2x max(committed, 0.5s) — the 0.5s floor keeps sub-100ms
queries from tripping on scheduler noise.  Any violation is listed on
stderr and the process exits 1 (after the summary line, so the run
still parses), making a per-query regression fail the sweep itself
instead of surfacing only in a later diff.  Per-query ratios
are first divided by the sweep's MEDIAN ratio (clamped >= 1, full
sweeps only) so a uniformly loaded box doesn't false-positive — see
guard_violations.  Violators are re-measured once before the verdict.
A VIOLATING run writes its per-query map to bench_queries.failed.json
and leaves the committed baseline untouched (round-7 VERDICT item 2).
Position-localized JVM warm-up (round-7: sweep positions 0-39 at 1.86x
vs 1.08x for the rest, 16 false flags) is retired by an untimed
warm-up pass over the first WARMUP queries before timing starts.  New
queries (absent from the committed artifact) and non-default sf dirs
are not guarded.

``python bench.py --only q1 q2 ...`` times just the named queries the
same way (cache, warm-up, best of RUNS) and prints one row per query:
best, build, exec, jobs and compiles (cold/warm).  It writes no
artifact and runs no guard.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# estimated-load factor above which the summary is suspect: either the
# box is heavily loaded or a sweep-wide code regression is hiding in the
# normalizer (round-7 ADVICE) — surfaced as a stderr WARN, never silent
LOAD_WARN_RATIO = 1.5

# untimed warm-up queries before the timed region (see main), best-of-N
# runs per query, and the most guard violators re-measured before the
# verdict (a sweep-wide regression is not diluted by re-measure time)
WARMUP = 30
RUNS = 2
REMEASURE_MAX = 20

# sf>=1 sweep order: graph family first (round-8 VERDICT item 3).  The
# round-8 sf1 sweep measured triangle_count at 62 s in-sweep vs 22.6 s
# standalone-warm — cached-table eviction pressure from the big
# text/dedup intermediates that precede it in registration order.  At
# sf>=1 the graph family runs first, right after cache_sf_tables while
# the block cache is fresh; at the default sf the cache fits with room
# to spare and registration order stands.
GRAPH_FIRST_PREFIXES = (
    "triangle_count",
    "pagerank",
    "personalized_pagerank",
    "kcore",
    "community_label",
    "local_clustering",
    "link_prediction",
    "degree_assortativity",
    "textrank",
)


def sweep_order(names, sf_val) -> list[str]:
    """Query execution order for the sweep: registration order, except
    at sf >= 1 where the graph family is hoisted to the front (module
    constant above).  Pure so tests can pin both branches."""
    names = list(names)
    if not (isinstance(sf_val, float) and sf_val >= 1):
        return names
    front = [n for n in names if n.startswith(GRAPH_FIRST_PREFIXES)]
    return front + [n for n in names if not n.startswith(GRAPH_FIRST_PREFIXES)]


def is_default_sf(sf_dir: str) -> bool:
    """Realpath-normalized comparison against DEFAULT_SF_DIR (round-7
    ADVICE: an exact string compare meant a trailing slash or symlink
    spelling of the default dir silently disabled the guard and routed
    the artifact to a derived filename)."""
    return os.path.realpath(sf_dir.rstrip("/") or "/") == os.path.realpath(
        DEFAULT_SF_DIR
    )


def artifact_name_for(sf_dir: str, violated: bool = False) -> str:
    """Per-query artifact filename for a bench run at ``sf_dir``.  The
    default sf dir owns bench_queries.json (the committed guard
    baseline); any other dir gets its own file (bench_sf1.json for the
    scale corpus) so a scaling run never clobbers the baseline — the
    round-7 sf1 sweep overwrote it and had to be git-restored.

    ``violated=True`` (guard failures present) routes the default-dir
    artifact to bench_queries.failed.json so a failing run NEVER
    replaces the committed baseline (round-7 VERDICT item 2: the
    driver's warm-up-inflated rc=1 run overwrote bench_queries.json in
    the working tree; committing that blindly would have inflated the
    early-query budgets by up to 13x and blinded the guard exactly
    where it misfired)."""
    if is_default_sf(sf_dir):
        return "bench_queries.failed.json" if violated else "bench_queries.json"
    base = os.path.basename(sf_dir.rstrip("/"))
    if base == "sf1":
        return "bench_sf1.json"
    return f"bench_queries_{base.replace('.', '_')}.json"


def estimate_load(
    timings: dict[str, float],
    committed: dict[str, float],
    floor: float = 0.5,
) -> float:
    """Sweep-wide load factor: the median per-query ratio vs the
    committed baseline, clamped >= 1 (a FASTER box never hides a
    regression) and only estimated when >= 20 queries overlap (a
    degenerate subset keeps strict load=1 semantics).  Pure, shared by
    the guard and the summary line so the artifact self-normalizes
    across boxes (round-7 VERDICT item 6: three rounds of judge effort
    re-derived "the box was Nx slow" from per-query diffs)."""
    ratios = sorted(
        t / max(committed[name], floor)
        for name, t in timings.items()
        if name in committed
    )
    if len(ratios) < 20:
        return 1.0
    med = ratios[len(ratios) // 2]
    return max(1.0, med)


def time_query(fn, spark, sf_dir: str, runs: int = RUNS):
    """(best, build, exec, jobs, compiles) of the best of ``runs`` runs
    of one registry query: best is the wall-clock of plan construction +
    collect(), split into build (Python plan construction — lazy, no
    job) and exec (collect: analysis + optimization + run), jobs is the
    number of Spark jobs that run launched, and compiles lists the
    classes Janino compiled in each run, in run order ([cold, warm] at
    the default RUNS).  Only the first run of a plan shape should
    compile: later runs find their generated classes in Spark's codegen
    cache (sized in session.py), so a nonzero warm count means a cache
    too small for the working set or a run whose generated code differs
    from the run before it.

    Jobs are counted by the DAG scheduler's next job ID (all jobs, any
    thread): setJobGroup is thread-local under pinned-thread PySpark, so
    jobs launched from worker threads (e.g. ann_recall_report's
    ThreadPoolExecutor index builds) never join a group, and the status
    store's job list is capped at spark.ui.retainedJobs entries.
    Compiles come from the JVM-wide CodegenMetrics counter, so they
    likewise cover every thread.

    Intermediates the query pinned via tracked_persist are released
    after the runs — between queries, not between the runs of one query
    (warm reruns legitimately share a query's own caches); without this
    a sweep accumulates every persisted intermediate in the CacheManager
    until the session ends (ADVICE r3, medium)."""
    from advanced_etl_pipelines_spark.operators.caching import (
        release_tracked_caches,
    )

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    # histogram of Janino compile times: its count is the classes
    # compiled so far (codegen cache hits compile nothing)
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiled = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    best = None
    compiles = []
    for _ in range(runs):
        j0 = dag.nextJobId()
        c0 = compiled.getCount()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.collect()
        t2 = time.perf_counter()
        compiles.append(compiled.getCount() - c0)
        if best is None or t2 - t0 < best[0]:
            best = (t2 - t0, t1 - t0, t2 - t1, dag.nextJobId() - j0)
    release_tracked_caches()
    total, build, exe, jobs = best
    return round(total, 3), round(build, 3), round(exe, 3), jobs, compiles


def guard_violations(
    timings: dict[str, float],
    committed: dict[str, float],
    factor: float = 2.0,
    floor: float = 0.5,
) -> list[tuple[str, float, float]]:
    """(name, new, committed) for every query slower than
    factor x max(committed, floor) AFTER dividing out the sweep's
    median slowdown — the regression-guard predicate (module
    docstring), pure so tests can pin its semantics.

    The median normalization kills the load false-positive class
    observed round 7: a busy box slows every query ~uniformly (three
    loaded sweeps each flagged 1-7 queries at 1.19-1.27x median with
    no code change), while a genuine regression is localized to the
    changed query.  The normalizer is clamped to >= 1 so a FASTER box
    never hides a real regression, and is only estimated when enough
    queries overlap for a median to mean anything (a full sweep has
    321; degenerate subsets get load=1, the old strict semantics).

    What the median CANNOT absorb is POSITION-LOCALIZED warm-up
    (round-7: sweep positions 0-39 ran at 1.86x median while the rest
    sat at 1.08x, 16 false flags) — that class is prevented upstream by
    main()'s untimed warm-up pass, not here.  And it deliberately CAN
    absorb a sweep-wide code regression (round-7 ADVICE): main()
    surfaces the estimated load in the summary line and warns above
    LOAD_WARN_RATIO so a uniform slowdown is visible, not silent."""
    load = estimate_load(timings, committed, floor)
    return [
        (name, t, committed[name])
        for name, t in timings.items()
        if name in committed
        and t / load > factor * max(committed[name], floor)
    ]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--only",
        nargs="+",
        metavar="QUERY",
        help="time just these queries; print a row each, write nothing",
    )
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from advanced_etl_pipelines_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    unknown = sorted(set(args.only or ()) - set(queries))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    # Warm the JVM + parquet footer caches outside the timed region.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Materialize the base tables into the block cache ONCE for the whole
    # sweep (round-2 VERDICT item 8): at 287 queries the repeated parquet
    # scans of the same ten tables dominate the harness, not the
    # operators.  The cache build is timed and reported separately so the
    # one-time scan cost stays visible.  SPARK_GRAFT_BENCH_CACHE=0 runs
    # the old scan-per-query mode.
    cache_sec = 0.0
    if os.environ.get("SPARK_GRAFT_BENCH_CACHE", "1") != "0":
        from advanced_etl_pipelines_spark.sources.readers import (
            cache_sf_tables,
        )

        cache_sec = round(cache_sf_tables(spark, sf_dir), 3)

    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # execution order: the --only names as given, else registration
    # order with the graph family hoisted first at sf >= 1 (round-8
    # VERDICT item 3 — see GRAPH_FIRST_PREFIXES)
    order = args.only or sweep_order(queries, sf_val)

    # Untimed warm-up pass (round-7 VERDICT item 1): a cold JVM pays
    # JIT/codegen/GC-sizing warm-up for roughly the first 30-40 sweep
    # positions — the round-7 sweep showed positions 0-39 at
    # 1.86x median while positions 40+ sat at 1.08x, and best-of-2
    # back-to-back runs cannot absorb a cost that spans many queries.
    # Running the first WARMUP queries once untimed retires that warm-up
    # before the timed region starts, so the regression guard sees
    # steady-state numbers at every position.
    for name in order[:WARMUP]:
        time_query(queries[name], spark, sf_dir, runs=1)

    if args.only:
        print(
            f"{'query':42s} {'best':>7s} {'build':>7s} {'exec':>7s}"
            f" {'jobs':>5s} {'compiles':>9s}"
        )
        for name in order:
            best, build, exe, jobs, compiles = time_query(
                queries[name], spark, sf_dir
            )
            print(
                f"{name:42s} {best:7.3f} {build:7.3f} {exe:7.3f} {jobs:5d}"
                f" {'/'.join(map(str, compiles)):>9s}"
            )
        return

    # Tiny fixed CPU-bound probe, timed: a data-independent
    # load-normalization index for cross-box comparison (round-7
    # VERDICT item 6) — ride-along in the summary next to
    # cache_build_sec so "the box was Nx slow" is read off the
    # artifact instead of re-derived from per-query diffs.
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, 1, 8).selectExpr(
        "sum(id * 3 + 1) AS s", "avg(id % 97) AS a"
    ).collect()
    probe_sec = round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    build_s: dict[str, float] = {}
    exec_s: dict[str, float] = {}
    jobs: dict[str, int] = {}
    compiles: dict[str, list[int]] = {}

    def measure(name: str) -> None:
        t = time_query(queries[name], spark, sf_dir)
        (timings[name], build_s[name], exec_s[name], jobs[name],
         compiles[name]) = t

    for name in order:
        measure(name)

    # regression guard: committed per-query map, read BEFORE any write,
    # and only at the default sf (other dirs are never guarded, so an
    # empty map makes the verdict below vacuous)
    here = os.path.dirname(os.path.abspath(__file__))
    committed: dict[str, float] = {}
    baseline_path = os.path.join(here, artifact_name_for(sf_dir))
    if is_default_sf(sf_dir) and os.path.exists(baseline_path):
        try:
            with open(baseline_path) as f:
                prior = json.load(f)
            if prior.get("sf") == 0.1:
                committed = prior.get("queries", {})
        except (json.JSONDecodeError, OSError):
            pass

    # Guard verdict FIRST, artifact write second (round-7 VERDICT item
    # 2): a violating run routes to bench_queries.failed.json so the
    # committed baseline is never replaced by a failing sweep.
    violations = guard_violations(timings, committed)

    # Targeted re-measure of violators (round-8): best-of-2 occasionally
    # lands BOTH samples of one query inside a GC/compile burst —
    # measured on a quiet box: spearman_corr_bounded sampled
    # [5.06, 2.10, 1.31, 1.55] in one session, so a best-of-2 drawn
    # from the first two reports 2.1s for a 1.3s query and trips the
    # 2x budget.  Violators are re-run in-session (plans already
    # compiled, so this samples steady state) with the SAME best-of-N
    # budget as the original sample — a fresh best-of-N REPLACES the
    # burst-hit sample rather than accumulating minima over 2N draws
    # (round-8 ADVICE: keeping the running minimum both let an
    # intermittent genuine regression escape whenever one extra draw
    # landed fast, and committed best-of-4 budgets for exactly the
    # noisiest queries).  Re-measured names are recorded in the
    # artifact (splits.remeasured) so baseline refreshes are auditable.
    remeasured: list[str] = []
    if violations and len(violations) <= REMEASURE_MAX:
        for name, _t, _base in violations:
            remeasured.append(name)
            measure(name)
        violations = guard_violations(timings, committed)

    load = round(estimate_load(timings, committed), 3)
    artifact = os.path.join(
        here, artifact_name_for(sf_dir, violated=bool(violations))
    )

    def pct(vals: list[float], p: float) -> float:
        s = sorted(vals)
        return round(s[min(int(p * len(s)), len(s) - 1)], 3)

    splits = {
        "cache_build_sec": cache_sec,
        "probe_sec": probe_sec,
        "load_median_ratio": load,
        "remeasured": sorted(remeasured),
        "build_p50": pct(list(build_s.values()), 0.50),
        "build_p95": pct(list(build_s.values()), 0.95),
        "exec_p50": pct(list(exec_s.values()), 0.50),
        "exec_p95": pct(list(exec_s.values()), 0.95),
        "jobs_total": sum(jobs.values()),
        "compiles_total": sum(map(sum, compiles.values())),
    }
    with open(artifact, "w") as f:
        json.dump(
            {
                "sf": sf_val,
                "n_queries": len(timings),
                "splits": splits,
                "queries": timings,
                "build": build_s,
                "exec": exec_s,
                "jobs": jobs,
                "compiles": compiles,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    # SHORT summary as the LAST stdout line — this is what the driver
    # parses into BENCH_r{N}.json.  cache_build_sec + probe_sec +
    # load_median_ratio are the load-normalization index (item 6):
    # probe is data-independent CPU work, load is the median per-query
    # ratio vs the committed baseline (1.0 when no baseline overlaps).
    summary = {
        "metric": "registry_sweep_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "cache_build_sec": cache_sec,
        "probe_sec": probe_sec,
        "load_median_ratio": load,
        "queries": top10,
    }
    print(json.dumps(summary))
    if load > LOAD_WARN_RATIO:
        # round-7 ADVICE: the median normalizer can absorb a sweep-wide
        # code regression — make a large divided-out factor loud
        print(
            f"WARN sweep median ratio {load:.2f}x committed exceeds"
            f" {LOAD_WARN_RATIO}x: heavy box load, or a sweep-wide"
            " regression hiding in the normalizer — re-run on a quiet"
            " box before trusting this sweep",
            file=sys.stderr,
        )

    # per-query budget assertion (see module docstring) — after the
    # summary line so the driver's parse still succeeds
    if violations:
        for name, t, base in sorted(
            violations, key=lambda v: v[1] / max(v[2], 0.5), reverse=True
        ):
            print(
                f"REGRESSION {name}: {t:.3f}s > 2x committed"
                f" {base:.3f}s (floor 0.5s)",
                file=sys.stderr,
            )
        sys.exit(1)


if __name__ == "__main__":
    main()
