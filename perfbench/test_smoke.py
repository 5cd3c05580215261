"""Smoke test of the benchmark: one op of each workload, traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run must check its answers and print every metric that
BENCHMARK.json names, with that metric's unit: the end-to-end metrics
on the ``untraced`` line and the per-layer metrics in the result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _units(entries) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in entries}


@pytest.mark.parametrize("workload", ["registry_short", "etl_medallion"])
def test_one_traced_op_prints_every_metric(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert workload in {w["name"] for w in spec["workloads"]}
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "0.01", "--trace", "1",
    ]
    if workload == "registry_short":
        cmd += ["--ops", "1"]  # a one-query op list; an ETL op is one batch
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [json.loads(line) for line in out.stdout.strip().splitlines()]
    result, untraced, run = lines[-1], lines[-2]["untraced"], lines[-3]["run"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 2  # one timed op, one traced replay
    assert {k: v["unit"] for k, v in untraced.items()} == _units(spec["end_to_end"])
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _units(spec["per_layer"])
    assert run["samples"] == 1 and run["error_rate"] == 0
    assert os.path.exists(os.path.join(ROOT, run["spans"]))
    for name in ("spark.jobs", "exec.cpu_s", "op.wall_s", "session.start_s"):
        assert result["metrics"][name]["value"] > 0, name
