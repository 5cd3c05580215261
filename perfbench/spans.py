"""Spans and Spark counters, recorded from outside the engine.

Nothing here instruments the package.  Spans are timed around calls
into its public functions; counters are read from Spark's own
bookkeeping:

* the DAG scheduler's next job and stage IDs, taken before and after a
  call, bound the jobs and stages that call launched.  Counting by ID
  range stays right when the status store has evicted old entries
  (it keeps at most ``spark.ui.retainedJobs`` = 1000 jobs);
* the status store's per-stage data (task count, executor CPU and run
  time, GC, shuffle and spill bytes) for each stage ID in that range;
* the ``QueryPlanningTracker`` phases of a returned DataFrame.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1 << 20


class Tracer:
    """In-memory span list plus readers for Spark's counters."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: int, parent: str | None = None):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, op, parent, start, time.perf_counter())

    def add(self, name, op, parent, start, end) -> None:
        self.spans.append(
            {
                "name": name,
                "start": round(start - self._t0, 6),
                "end": round(end - self._t0, 6),
                "parent": parent,
                "op": op,
            }
        )

    def ids(self) -> tuple[int, int]:
        """(next job ID, next stage ID)."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def spark_counters(self, lo: tuple[int, int], hi: tuple[int, int]) -> dict:
        """Scheduling and executor counters of the jobs and stages whose
        IDs fall in ``[lo, hi)``.  Skipped stages (shuffle output reused)
        count neither as stages nor as work."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(
            (
                "spark.stages",
                "spark.tasks",
                "exec.cpu_s",
                "exec.run_s",
                "exec.gc_s",
                "exec.shuffle_read_mb",
                "exec.shuffle_write_mb",
                "exec.spill_mb",
            ),
            0.0,
        )
        out["spark.jobs"] = hi[0] - lo[0]
        for sid in range(lo[1], hi[1]):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # created but never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["exec.cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.run_s"] += st.executorRunTime() / 1e3
            out["exec.gc_s"] += st.jvmGcTime() / 1e3
            out["exec.shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["exec.spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / MB
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning seconds from the frame's
    ``QueryPlanningTracker`` (read after the frame was collected)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"catalyst.{name}_s"] = (
            opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        )
    return out
