"""The bench.py regression guard (round-6 VERDICT item 7): a >2x
per-query slowdown against the committed bench_queries.json must fail
the builder's own sweep — pinned on the extracted pure predicate."""

import importlib.util
import os


def _bench():
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_guard_flags_only_real_regressions():
    gv = _bench().guard_violations
    committed = {"big": 4.0, "mid": 1.0, "tiny": 0.05}
    # within budget: untouched, below 2x, sub-floor noise, new query
    assert gv(
        {"big": 7.9, "mid": 1.9, "tiny": 0.9, "brand_new": 50.0},
        committed,
    ) == []
    # a real regression on a heavy query is caught
    assert gv({"big": 8.1}, committed) == [("big", 8.1, 4.0)]
    # the 0.5s floor: a 0.05s query is budgeted against the floor, so
    # 0.9s passes (above 2x its own time) but 1.1s fails
    assert gv({"tiny": 1.1}, committed) == [("tiny", 1.1, 0.05)]


def test_guard_median_normalization_absorbs_uniform_load():
    """A uniformly slow box (round-7: three loaded sweeps, 1.19-1.27x
    median, 1-7 false flags each) must not trip the guard; a localized
    regression on that same loaded box still must."""
    gv = _bench().guard_violations
    committed = {f"q{i}": 1.0 for i in range(30)}
    # whole sweep 1.3x slow, one query drifting to 2.2x: no flags —
    # normalized, 2.2/1.3 = 1.69x is inside budget
    slow = {f"q{i}": 1.3 for i in range(30)}
    slow["q7"] = 2.2
    assert gv(slow, committed) == []
    # same load, but one query at 5x: flagged (5/1.3 = 3.8x)
    slow["q7"] = 5.0
    assert gv(slow, committed) == [("q7", 5.0, 1.0)]
    # a FAST box never hides a regression: everything 0.5x except one
    # genuine 2.5x — the normalizer clamps at 1, so it is flagged
    fast = {f"q{i}": 0.5 for i in range(30)}
    fast["q3"] = 2.5
    assert gv(fast, committed) == [("q3", 2.5, 1.0)]
    # degenerate subsets (< 20 overlapping) keep strict semantics:
    # no median estimate, a lone 2.1x trips
    assert gv({"q1": 2.1}, committed) == [("q1", 2.1, 1.0)]


def test_guard_exit_path_is_wired():
    """main() must call the predicate and exit non-zero on violations —
    pinned structurally (running a full sweep in tests is too slow):
    the source routes guard_violations into sys.exit(1)."""
    import inspect

    src = inspect.getsource(_bench().main)
    assert "guard_violations(timings, committed)" in src
    assert "sys.exit(1)" in src


def test_guard_cannot_absorb_position_localized_warmup():
    """Round-7 incident, pinned as the reason the warm-up pass exists:
    a cold JVM ran sweep positions 0-39 at 1.86x median (individual
    queries up to 13x) while positions 40+ sat at 1.08x.  The median
    normalizer sees the 40+ majority (load ~1.08) and correctly does
    NOT absorb the early spikes — so without main()'s untimed warm-up
    pass, cold-start costs flag as regressions.  The fix is upstream:
    retire warm-up before timing, keep the guard strict."""
    gv = _bench().guard_violations
    committed = {f"q{i}": 0.6 for i in range(321)}
    observed = {f"q{i}": 0.6 * 1.08 for i in range(321)}
    for i in range(40):  # cold positions: 2-6x, like the driver's run
        observed[f"q{i}"] = 0.6 * (2.0 + (i % 5))
    flagged = {name for name, _, _ in gv(observed, committed)}
    assert flagged and flagged <= {f"q{i}" for i in range(40)}
    # with warm-up retired (the same sweep minus the cold spikes),
    # the guard is clean
    warmed = {f"q{i}": 0.6 * 1.08 for i in range(321)}
    assert gv(warmed, committed) == []


def test_warmup_pass_is_wired():
    """main() must run the untimed warm-up loop BEFORE the timed
    region (structurally pinned, like the exit path): the warm-up loop
    and the probe both appear in source before the best-of-N loop."""
    import inspect

    src = inspect.getsource(_bench().main)
    warm = src.index("for name in order[:WARMUP]")
    timed = src.index("for name in order:\n        measure(name)")
    assert warm < timed
    assert src.index("probe_sec = round") < timed


def test_estimate_load_is_surfaced_and_clamped():
    est = _bench().estimate_load
    committed = {f"q{i}": 1.0 for i in range(30)}
    assert est({f"q{i}": 1.3 for i in range(30)}, committed) == 1.3
    # clamped at 1 on a fast box; degenerate overlap -> 1
    assert est({f"q{i}": 0.5 for i in range(30)}, committed) == 1.0
    assert est({"q1": 3.0}, committed) == 1.0


def test_remeasure_uses_fresh_budget_and_is_audited():
    """Round-8 ADVICE: the violator re-measure must use the SAME
    best-of-N budget as the original sample (a fresh minimum, not an
    accumulated best-of-2N that lets an intermittent regression escape
    and commits tighter budgets for the noisiest queries), and the
    re-measured names must be recorded in the artifact for refresh
    audits."""
    import inspect

    b = _bench()
    src = inspect.getsource(b.main)
    rem_at = src.index("len(violations) <= REMEASURE_MAX")
    # a fresh best inside the remeasure loop: the violator goes back
    # through time_query, which takes no prior sample to start from,
    # not `best = timings[name]`
    assert "measure(name)" in src[rem_at:]
    assert list(inspect.signature(b.time_query).parameters) == [
        "fn", "spark", "sf_dir", "runs"
    ]
    assert "best = timings[name]" not in src
    assert "remeasured.append(name)" in src
    assert '"remeasured": sorted(remeasured)' in src


def test_sweep_order_hoists_graph_family_at_scale():
    """Round-8 VERDICT item 3: the sf1 sweep measured triangle_count at
    62 s in-sweep vs 22.6 s standalone-warm — cached-table eviction
    pressure from the text/dedup families that precede it.  At sf >= 1
    the graph family runs first (fresh block cache); the default sf
    keeps registration order so the committed per-query baseline stays
    comparable."""
    so = _bench().sweep_order
    names = [
        "agg_dedup_mean",
        "bpe_vocab_learn",
        "triangle_count_copurchase",
        "dedup_minhash_pairs",
        "pagerank_copurchase",
        "tpch_q1_pricing_summary",
    ]
    # default sf: registration order untouched
    assert so(names, 0.1) == names
    # sf1: graph family hoisted, relative order preserved in each half
    assert so(names, 1.0) == [
        "triangle_count_copurchase",
        "pagerank_copurchase",
        "agg_dedup_mean",
        "bpe_vocab_learn",
        "dedup_minhash_pairs",
        "tpch_q1_pricing_summary",
    ]
    # non-numeric sf labels keep registration order
    assert so(names, "weird") == names
    # main() iterates the order for BOTH warm-up and the timed loop
    import inspect

    src = inspect.getsource(_bench().main)
    assert "order = args.only or sweep_order(queries, sf_val)" in src
    assert "for name in order[:WARMUP]" in src
    assert "for name in order:\n        measure(name)" in src


def test_failed_run_never_routes_to_committed_baseline():
    """Round-7 VERDICT item 2: a guard-violating default-sf run must
    write bench_queries.failed.json, never the committed baseline."""
    b = _bench()
    assert b.artifact_name_for(b.DEFAULT_SF_DIR, violated=True) == (
        "bench_queries.failed.json"
    )
    assert b.artifact_name_for(b.DEFAULT_SF_DIR, violated=False) == (
        "bench_queries.json"
    )
    # non-default dirs never guard, so violated is irrelevant there
    assert b.artifact_name_for("/root/repo/.localdata/sf1", violated=True) == (
        "bench_sf1.json"
    )
    # main() wires the verdict into the artifact path before writing
    import inspect

    src = inspect.getsource(b.main)
    assert src.index("violations = guard_violations") < src.index(
        "with open(artifact, \"w\")"
    )
    assert "violated=bool(violations)" in src


def test_violators_are_remeasured_before_the_verdict():
    """Round-8: best-of-2 can land both samples of one query inside a
    GC/compile burst (observed [5.06, 2.10, 1.31, ...] on a quiet box),
    so main() must re-run violators in-session and re-derive the
    verdict from the minima BEFORE routing the artifact.  Structurally
    pinned: first verdict -> re-measure loop -> second verdict -> the
    violated= artifact routing, in that source order."""
    import inspect

    src = inspect.getsource(_bench().main)
    first = src.index("violations = guard_violations")
    rem = src.index("len(violations) <= REMEASURE_MAX")
    second = src.index("violations = guard_violations", first + 1)
    route = src.index("violated=bool(violations)")
    assert first < rem < second < route


def test_default_sf_detection_is_realpath_normalized():
    """Round-7 ADVICE: trailing slash / alternate spelling of the
    default dir must still engage the guard + baseline routing."""
    b = _bench()
    assert b.is_default_sf(b.DEFAULT_SF_DIR)
    assert b.is_default_sf(b.DEFAULT_SF_DIR + "/")
    assert b.is_default_sf("/root/testdata//sf0.1/")
    assert not b.is_default_sf("/root/testdata/sf0.01")
    assert b.artifact_name_for(b.DEFAULT_SF_DIR + "/") == "bench_queries.json"


def test_artifact_name_routes_nondefault_sf_dirs_away_from_baseline():
    b = _bench()
    assert b.artifact_name_for(b.DEFAULT_SF_DIR) == "bench_queries.json"
    assert b.artifact_name_for("/root/repo/.localdata/sf1") == (
        "bench_sf1.json"
    )
    assert b.artifact_name_for(".localdata/sf1/") == "bench_sf1.json"
    # anything else gets a derived name, never the guard baseline
    assert b.artifact_name_for("/root/testdata/sf0.01") == (
        "bench_queries_sf0_01.json"
    )



def test_time_query_and_only_mode_on_a_fake_registry(
    spark, monkeypatch, capsys
):
    """time_query reports the Spark jobs of its best run, splits its
    time into build + exec and counts each run's compiled classes (the
    warm run finds every class in the codegen cache); ``--only`` times
    just the named queries, prints one row each and writes no
    artifact."""
    import sys
    import types

    from pyspark.sql import functions as F

    from advanced_etl_pipelines_spark import session
    from conftest import SF_SMOKE

    b = _bench()
    fake = {
        "fake_grouped": lambda s, sf: s.range(100)
        .groupBy((F.col("id") % 3).alias("k"))
        .count(),
        "fake_sum": lambda s, sf: s.range(10).selectExpr("sum(id) AS s"),
    }
    for fn in fake.values():
        best, build, exe, jobs, compiles = b.time_query(fn, spark, SF_SMOKE)
        assert jobs >= 1
        assert len(compiles) == b.RUNS and compiles[1] == 0
        assert abs(build + exe - best) <= 0.002  # each rounded to 1 ms

    entry = types.ModuleType("__spark_entry__")
    entry.queries = lambda: dict(fake)
    monkeypatch.setitem(sys.modules, "__spark_entry__", entry)
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CACHE", "0")
    here = os.path.dirname(os.path.abspath(b.__file__))

    def files():
        return {
            n: os.stat(os.path.join(here, n)).st_mtime_ns
            for n in os.listdir(here)
        }

    before = files()
    b.main(["--only", "fake_sum", "fake_grouped"])
    rows = [r.split() for r in capsys.readouterr().out.splitlines()]
    assert rows[0] == ["query", "best", "build", "exec", "jobs", "compiles"]
    assert [r[0] for r in rows[1:]] == ["fake_sum", "fake_grouped"]
    assert all(int(r[4]) >= 1 for r in rows[1:])
    # compiled by the direct calls above: the cache holds every class
    assert all(r[5] == "0/0" for r in rows[1:])
    assert files() == before
