"""Table-lineage generator: which source tables feed each registry
query, extracted from the ANALYZED logical plan (not from reading the
Python) — the dbt-style dependency map for the whole query surface.

Usage:  python scripts/lineage.py [sf_dir] [out_json]

Writes {query: [table, ...]} sorted both ways, plus a reverse index
{table: [query, ...]} under "_by_table".  Queries that source no
parquet table (pure generators) report [].
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def tables_of(df, sf_dir: str) -> list[str]:
    """Source tables of a DataFrame, from its resolved input files —
    the engine's own answer (post-analysis, pre-execution), immune to
    how the Python was written."""
    found = set()
    for path in df.inputFiles():
        m = re.search(r"/(\w+)\.parquet", path)
        if m and m.group(1) in TABLES:
            found.add(m.group(1))
    return sorted(found)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "lineage.json"

    from advanced_etl_pipelines_spark.session import get_spark

    spark = get_spark("lineage")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    lineage: dict[str, list[str]] = {}
    for name, fn in e.queries().items():
        try:
            lineage[name] = tables_of(fn(spark, sf_dir), sf_dir)
        except Exception as exc:  # noqa: BLE001
            lineage[name] = [f"ERROR: {exc}"]
    by_table: dict[str, list[str]] = {t: [] for t in TABLES}
    for q, ts in sorted(lineage.items()):
        for t in ts:
            if t in by_table:
                by_table[t].append(q)
    out = dict(sorted(lineage.items()))
    out["_by_table"] = by_table
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    n_ok = sum(1 for v in lineage.values() if not (v and str(v[0]).startswith("ERROR")))
    print(f"wrote {out_json}: {n_ok}/{len(lineage)} queries resolved")


if __name__ == "__main__":
    main()
