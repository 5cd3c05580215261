"""Work gate: the Spark jobs a query launches at sf0.01 may not rise.

Job counts are deterministic where timings are not, so this gate holds
on a loaded box: ``fixtures/job_pins.json`` pins the jobs that
``bench.time_query`` counts for one run of each listed query (the 16
``registry_short`` queries, a few heavy ones, and every SQL entry) on
the suite's session over uncached tables.  A count above its pin fails;
a count that falls may have its pin lowered by a one-line edit.  This
sits beside ``bench.py``'s 2x timing guard and does not replace it.
"""

from __future__ import annotations

import json
import os

from conftest import SF_SMOKE

PINS = os.path.join(os.path.dirname(__file__), "fixtures", "job_pins.json")
SF = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")


def test_job_counts_stay_at_or_below_their_pins(spark):
    import bench
    from advanced_etl_pipelines_spark.plans.registry import QUERIES

    with open(PINS) as f:
        pins = json.load(f)
    over = {}
    for name, pin in pins.items():
        jobs = bench.time_query(QUERIES[name], spark, SF, runs=1)[3]
        if jobs > pin:
            over[name] = (jobs, pin)
    assert not over, f"jobs above pin (measured, pin): {over}"
