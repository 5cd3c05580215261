"""Round-close sweep pair: run bench.py twice at the default sf and
adopt the QUIETER guard-clean artifact as the committed baseline
(round-9 VERDICT item 5 — the "two sweeps, commit the quietest"
convention lived in BASELINE.md prose and judge memory; this makes it
executable and auditable).

Semantics that matter (pinned by tests/test_round_close.py):

* Every run is guarded against the SAME committed baseline: bench.py
  replaces bench_queries.json on a guard-clean run, so the committed
  artifact is snapshotted before the pair and restored before each run
  — otherwise run 2 would be guarded and normalized against run 1.
* Adopt-the-quieter: the guard-clean run with the smaller sweep total
  wins (same-day totals vary 236-274 s at sf0.1 on this box — the
  quieter run is the better code measurement, and the guard already
  rejected any localized regression in it).
* A guard-violating run (rc=1, artifact routed to
  bench_queries.failed.json by bench.py) is NOT adoptable; if no run is
  clean the committed baseline is left byte-identical and the script
  exits 1.
* The child env PINS SPARK_GRAFT_SF_DIR to bench.py's default, which
  is also where bench.py's guard is on: an inherited sf1 dir would
  route bench's artifact to bench_sf1.json unguarded, leaving BASELINE
  as the restored snapshot — this script would then "adopt" the
  committed baseline as if it were a fresh sweep.

Usage:  python scripts/round_close.py

Prints ONE JSON line: adopted run, both totals and the adopted total —
the numbers BASELINE.md's round row records.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BENCH = os.path.join(REPO, "bench.py")
BASELINE = os.path.join(REPO, "bench_queries.json")
RUNS = 2

sys.path.insert(0, REPO)
from bench import DEFAULT_SF_DIR  # noqa: E402  (import is side-effect free)


def total(artifact: dict | None) -> float | None:
    """Sweep total of a bench artifact (None for a failed run)."""
    if not artifact:
        return None
    return round(sum(artifact.get("queries", {}).values()), 3)


def pick_quieter(artifacts: list[dict | None]) -> int | None:
    """Index of the guard-clean artifact with the smallest sweep total;
    failed runs (None) never win; None when no run is adoptable.  Ties
    go to the earlier run.  Pure — the adopt-the-quieter rule, pinned
    by tests."""
    best_i, best_t = None, None
    for i, art in enumerate(artifacts):
        t = total(art)
        if t is None:
            continue
        if best_t is None or t < best_t:
            best_i, best_t = i, t
    return best_i


def main() -> int:
    snapshot: bytes | None = None
    if os.path.exists(BASELINE):
        with open(BASELINE, "rb") as f:
            snapshot = f.read()

    artifacts: list[dict | None] = []
    for i in range(RUNS):
        # restore the committed baseline so every run of the pair is
        # guarded against the SAME prior (see module doc)
        if snapshot is not None:
            with open(BASELINE, "wb") as f:
                f.write(snapshot)
        # pin the default sf regardless of the caller's shell: anything
        # else routes the artifact away from BASELINE, unguarded, and the
        # adopt step would re-adopt the restored snapshot as "new"
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=DEFAULT_SF_DIR)
        rc = subprocess.call([sys.executable, BENCH], env=env)
        art = None
        if rc == 0 and os.path.exists(BASELINE):
            try:
                with open(BASELINE) as f:
                    art = json.load(f)
            except (json.JSONDecodeError, OSError):
                art = None
        artifacts.append(art)
        print(
            f"round_close: run {i + 1}/{RUNS} rc={rc}"
            f" total={total(art)}",
            file=sys.stderr,
        )

    # restore the original before adopting, so a no-clean-run pair
    # leaves the committed baseline byte-identical
    if snapshot is not None:
        with open(BASELINE, "wb") as f:
            f.write(snapshot)
    pick = pick_quieter(artifacts)
    if pick is None:
        print(
            "round_close: no guard-clean run in the pair — committed"
            " baseline untouched (see bench_queries.failed.json)",
            file=sys.stderr,
        )
        return 1
    adopted = artifacts[pick]
    with open(BASELINE, "w") as f:
        json.dump(adopted, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "round_close_adopted_sweep",
                "adopted_run": pick + 1,
                "runs_total": [total(a) for a in artifacts],
                "value": total(adopted),
                "unit": "sec",
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
