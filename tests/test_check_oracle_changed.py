"""Unit tests for check_oracle's --changed selection (round-4 VERDICT
item 4): hash coverage, rotation, and the operator-module digest that
lets an operator edit invalidate the queries that call it."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest


@pytest.fixture(scope="module")
def co():
    spec = importlib.util.spec_from_file_location(
        "check_oracle_under_test",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "scripts/check_oracle.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


def test_hashes_cover_every_query(co, registry):
    qs, oracles = registry
    h = co._query_hashes(qs, oracles)
    assert set(h) == set(qs)
    assert all(len(v) == 40 for v in h.values())


def test_operator_edit_flips_dependent_query_hashes(co, registry):
    """A changed digest for operators/bpe.py must flip the hash of the
    BPE queries (their builders import it locally) and leave a query
    that never references it untouched."""
    qs, oracles = registry
    before = co._query_hashes(qs, oracles)
    real = co._module_digests

    def tampered():
        d = real()
        d["operators.bpe"] = "0" * 40
        return d

    co._module_digests = tampered
    try:
        after = co._query_hashes(qs, oracles)
    finally:
        co._module_digests = real
    assert after["bpe_vocab_learn"] != before["bpe_vocab_learn"]
    assert after["bpe_fertility_by_lang"] != before["bpe_fertility_by_lang"]
    assert after["tpch_q1_pricing_summary"] == before["tpch_q1_pricing_summary"]


def test_changed_selection_rotation_covers_registry(
    co, registry, tmp_path, monkeypatch
):
    qs, oracles = registry
    monkeypatch.setattr(co, "MANIFEST", str(tmp_path / "manifest.json"))
    # no manifest -> everything is "changed"
    run, man = co._changed_selection(qs, oracles)
    assert set(run) == set(qs)
    co._write_manifest(man)
    # with a fresh manifest: nothing changed, only rotating slices run;
    # ROTATION_BUCKETS consecutive runs must cover the whole registry
    covered: set[str] = set()
    buckets: list[int] = []
    for _ in range(co.ROTATION_BUCKETS):
        run, man = co._changed_selection(qs, oracles)
        assert man["last_changed"] == []
        covered |= set(run)
        buckets.append(man["last_slice_bucket"])
        co._write_manifest(man)
    assert covered == set(qs)
    # round-5 VERDICT item 4: the rotation must actually ADVANCE — a
    # stale manifest re-checking the same slice forever must fail here
    assert all(
        buckets[i + 1] == (buckets[i] + 1) % co.ROTATION_BUCKETS
        for i in range(len(buckets) - 1)
    ), buckets
    assert len(set(buckets)) == co.ROTATION_BUCKETS
    run6, man6 = co._changed_selection(qs, oracles)
    assert man6["last_slice_bucket"] == buckets[0]  # wraps modulo 5
    # manifest is valid json with the expected keys
    with open(co.MANIFEST) as f:
        m = json.load(f)
    assert set(m) >= {"queries", "rotation", "last_changed"}


def test_parse_argv_flags_any_order(co):
    """Round-5 ADVICE: `--changed --json out.json sf_dir` used to treat
    --json as the sf_dir.  Flags must parse in either order; unknown
    flags and a dangling --json must exit loudly."""
    assert co.parse_argv(["--json", "o.json", "--changed", "d", "q1"]) == (
        "o.json", True, "d", {"q1"},
    )
    assert co.parse_argv(["--changed", "--json", "o.json", "d", "q1"]) == (
        "o.json", True, "d", {"q1"},
    )
    assert co.parse_argv([]) == (None, False, "/root/testdata/sf0.01", set())
    with pytest.raises(SystemExit):
        co.parse_argv(["--jsno", "x"])
    with pytest.raises(SystemExit):
        co.parse_argv(["d", "--json"])


def test_norm_cell_caps_floats_at_10_significant_digits(co):
    """Round-7 sf1 flake class: Spark's partial-agg merge order varies
    run to run, so big money sums (3.2e11 rollup grand total, 5e9
    monthly revenues) carry 1e-5..1e-4 nondeterminism — enough to flip
    a ROUND(x, 2) cent.  norm_cell must equate the rounded variants
    (noise) while still splitting genuinely different answers."""
    n = co.norm_cell
    # the observed rollup_pricing grand-total pair: one-cent apart at
    # 3.2e11 -> identical after normalization
    assert n(317712021236.0) == n(317712021236.01)
    # the revenue_ma_crossover scale: one-cent apart at 4.6e9
    assert n(4612345678.41) == n(4612345678.42)
    # a real defect still differs: one lost ~1e5 row at either scale
    assert n(317712021236.0) != n(317712121236.0)
    assert n(4612345678.41) != n(4612245678.41)
    # small magnitudes keep the historical 4-decimal semantics
    assert n(0.12342) == 0.1234 and n(0.12342) != n(0.12348)
    assert n(12345.6789) == 12345.6789
    # boundary: below 1e6 stays 4dp; at 1e6 the cap is 3dp (10 sig)
    assert n(999999.12342) == 999999.1234
    assert n(1.0e6 + 0.0001) == 1.0e6
    assert n(1.0e6 + 0.001) == 1.0e6 + 0.001
    # cap holds past 1e10 (negative ndigits path)
    assert n(1.23456789012e13) == n(1.23456789049e13)
    assert n(float("nan")) == "NaN" and n(None) is None


def test_norm_cell_handles_infinities_without_crashing(co):
    """Round-7 ADVICE: int(math.log10(inf)) raises OverflowError, and
    row_multiset runs OUTSIDE the per-query try/except — one infinite
    cell in any result would have crashed the entire gate run.  ±Inf
    must normalize to sentinel strings like NaN does, including inside
    nested lists."""
    n = co.norm_cell
    assert n(float("inf")) == "Inf"
    assert n(float("-inf")) == "-Inf"
    assert n([1.0, float("inf"), float("-inf")]) == (1.0, "Inf", "-Inf")


def test_ann_recall_invariant_floors(co):
    """Round-8 VERDICT item 4: the gate asserts ann_recall_report's
    recall floors (the values have no SQL oracle by design) at
    WHATEVER sf it runs, sf1 slices included.  Pin the pure predicate:
    floors, null handling, and missing-method detection."""
    ok = [
        {"method": "lsh", "recall_at_5": 0.4},
        {"method": "ivf", "recall_at_5": 0.5},
        {"method": "pq", "recall_at_5": 0.7},
    ]
    assert co.ann_recall_violations(ok) == []
    # one method under floor -> named violation
    low = [dict(r) for r in ok]
    low[2]["recall_at_5"] = 0.69
    assert co.ann_recall_violations(low) == ["pq recall 0.69 < floor 0.7"]
    # a NULL recall is a violation, not a skip
    low[2]["recall_at_5"] = None
    assert co.ann_recall_violations(low) == ["pq recall None < floor 0.7"]
    # a method dropping out of the report entirely must fail too
    assert co.ann_recall_violations(ok[:2]) == ["missing methods: ['pq']"]
    # pq floored at 0.7 (round-9 VERDICT item 3: measured ~0.87 at
    # sf0.01 left a silent 30-point decay window under the old 0.6;
    # the suite's sf0.001 floor in test_similarity.py is aligned)
    assert co.ANN_RECALL_FLOORS == {"lsh": 0.4, "ivf": 0.5, "pq": 0.7}


def test_ann_recall_invariant_is_wired_into_rowsonly_path(co):
    """The invariant must run inside main()'s rows-only branch (before
    the rowsonly record), so every gate invocation that executes
    ann_recall_report checks the floors."""
    import inspect

    src = inspect.getsource(co.main)
    inv_at = src.index("ann_recall_violations(srows)")
    assert src.index('"fail:zero-rows"') < inv_at
    assert '"fail:invariant"' in src
    assert '"rowsonly+floors"' in src
    # measured recalls land in the artifact record on BOTH the pass and
    # the invariant-fail path (round-9 VERDICT item 3: pass/fail alone
    # hides a slow decay inside the floors)
    assert '"recalls"' in src
    assert src.count("extra") >= 3


def test_body_edit_flips_the_hash_through_the_query_wrapper(co):
    """``query`` registers a wrapper that configures the session; the
    hash must still cover the body it wraps, not the wrapper."""
    from advanced_etl_pipelines_spark.plans import registry

    def body_a(spark, sf_dir):
        return "a"

    def body_b(spark, sf_dir):
        return "b"

    try:
        fa = registry.query("__hash_probe_a")(body_a)
        fb = registry.query("__hash_probe_b")(body_b)
    finally:
        registry.QUERIES.pop("__hash_probe_a", None)
        registry.QUERIES.pop("__hash_probe_b", None)
    ha = co._query_hashes({"q": fa}, {})["q"]
    hb = co._query_hashes({"q": fb}, {})["q"]
    assert ha != hb


def test_import_resolves_the_package_from_its_own_tree(tmp_path):
    """Importing the script puts ITS repository first on ``sys.path``,
    so a copy of the tree checks its own package, not another
    checkout's."""
    import shutil
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    copy = tmp_path / "tree"
    skip = shutil.ignore_patterns("__pycache__")
    for d in ("scripts", "advanced_etl_pipelines_spark"):
        shutil.copytree(os.path.join(root, d), copy / d, ignore=skip)
    out = subprocess.run(
        [
            sys.executable, "-c",
            "import scripts.check_oracle, advanced_etl_pipelines_spark as p;"
            " print(p.__file__)",
        ],
        cwd=copy, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out.startswith(str(copy)), out
