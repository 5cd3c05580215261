"""scripts/round_close.py — the executable round-close convention
(round-9 VERDICT item 5): run the default-sf sweep twice, adopt the
QUIETER guard-clean artifact as the committed baseline."""

import importlib.util
import os


def _rc():
    path = os.path.join(
        os.path.dirname(__file__), "..", "scripts", "round_close.py"
    )
    spec = importlib.util.spec_from_file_location("round_close", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _art(total_per_q, n=30):
    return {"queries": {f"q{i}": total_per_q for i in range(n)}}


def test_adopt_the_quieter_rule():
    rc = _rc()
    loud, quiet = _art(1.0), _art(0.8)
    # the smaller sweep total wins, regardless of order
    assert rc.pick_quieter([loud, quiet]) == 1
    assert rc.pick_quieter([quiet, loud]) == 0
    # a failed run (None — bench routed it to failed.json) never wins
    assert rc.pick_quieter([None, loud]) == 1
    assert rc.pick_quieter([quiet, None]) == 0
    # no clean run -> no adoption (main exits 1, baseline untouched)
    assert rc.pick_quieter([None, None]) is None
    # ties go to the earlier run
    assert rc.pick_quieter([_art(0.9), _art(0.9)]) == 0
    assert rc.total(None) is None
    assert rc.total(_art(0.5, n=4)) == 2.0


def test_pair_runs_against_the_same_committed_baseline():
    """Both runs must be guarded against the SAME prior: the committed
    baseline is snapshotted once, restored before EACH run, and restored
    again before the adopt decision — otherwise run 2 would be guarded
    against run 1's artifact.  Structurally pinned, like bench.py's own
    wiring tests (a real pair is a ~10-min sweep)."""
    import inspect

    src = inspect.getsource(_rc().main)
    snap = src.index("snapshot = f.read()")
    loop = src.index("for i in range(RUNS)")
    restore_in_loop = src.index("f.write(snapshot)", loop)
    call = src.index("subprocess.call")
    restore_before_adopt = src.index("f.write(snapshot)", call)
    pick = src.index("pick_quieter(artifacts)")
    assert snap < loop < restore_in_loop < call
    assert call < restore_before_adopt < pick
    # only a clean exit's artifact is adoptable; rc=1 runs read as None
    assert "if rc == 0 and os.path.exists(BASELINE)" in src


def test_child_env_pins_default_sf_and_guard_on():
    """The bench subprocess env must force the default sf dir, which is
    where bench.py's guard is on, regardless of the caller's shell: an
    inherited SPARK_GRAFT_SF_DIR routes bench's artifact away from
    BASELINE unguarded, so the adopt step would re-adopt the restored
    committed snapshot as a "fresh" sweep."""
    import inspect

    mod = _rc()
    src = inspect.getsource(mod.main)
    assert "SPARK_GRAFT_SF_DIR=DEFAULT_SF_DIR" in src
    assert "env=env" in src
    # the pinned default is bench.py's own, not a copy that could skew
    import bench

    assert mod.DEFAULT_SF_DIR == bench.DEFAULT_SF_DIR
