"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()``
on DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value multiset (floats rounded to
counteract representation noise — the queries themselves already round).

Usage:  python scripts/check_oracle.py [--json out.json] [--changed]
                                       [sf_dir] [query ...]

``--json`` writes a per-query artifact (status, rows, seconds) — used
for the sf1 answer-correctness gate (round-3 VERDICT item 1), whose
results land in CORRECTNESS_sf1.json + BASELINE.md.

``--changed`` (round-4 VERDICT item 4 — the per-round sf1 habit):
instead of the full registry, gate (a) every query whose builder source
or oracle SQL changed since the committed manifest, plus (b) a rotating
1/5 slice of the rest, then refresh ``scripts/oracle_manifest.json``
(hashes + rotation) on success.  Five consecutive ``--changed`` runs
cover the whole registry; a full run still refreshes the manifest too.
Each query's hash covers its builder source, its oracle SQL, AND the
digests of every package module the builder source directly references
(``_query_hashes``) — so editing e.g. operators/bpe.py reruns every
query that mentions ``operators.bpe``.  Limitation (documented,
deliberate): TRANSITIVE dependencies are not hashed — an edit to a
helper that an operator module imports (but the builder never names)
won't flip dependent query hashes; that case is caught by the rotating
slice within 5 rounds and by the occasional full sf1 sweep, which
remains the backstop.

Typical round close:
    python scripts/check_oracle.py --changed .localdata/sf1
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

MANIFEST = os.path.join(os.path.dirname(__file__), "oracle_manifest.json")
ROTATION_BUCKETS = 5

# Value invariant for the registry's one no-oracle entry (round-8
# VERDICT item 4): ann_recall_report measures the PRODUCTION ANN
# configurations' recall@5, and a SQL oracle would either restate the
# implementation or require quantizing the index trainers — which
# would alter the recall being measured (see the query's docstring).
# The floors from tests/test_similarity.py are asserted here instead,
# so the values get checked wherever the gate runs — including the
# sf1 slices, closing the last untested-at-scale value surface.
# pq is floored at 0.7 (round-9 VERDICT item 3, suite floor in
# test_similarity.py aligned): measured recall@5 at sf0.01 is ~0.87, so
# the old 0.6 left a silent 30-point decay window; lsh/ivf floors are
# already within ~15% of their measured values.  The measured recalls
# are also RECORDED in the gate's JSON artifact (records[...]
# ["recalls"]), so a slow decay inside the floors is visible across
# rounds instead of collapsing to pass/fail.
ANN_RECALL_FLOORS = {"lsh": 0.4, "ivf": 0.5, "pq": 0.7}


def ann_recall_violations(rows) -> list[str]:
    """Floor violations in ann_recall_report's collected output — every
    method present with recall_at_5 >= its floor, else a message per
    defect.  Pure (rows: any mapping with method/recall_at_5)."""
    bad = []
    seen = set()
    for r in rows:
        m = r["method"]
        seen.add(m)
        floor = ANN_RECALL_FLOORS.get(m)
        rec = r["recall_at_5"]
        if floor is not None and (rec is None or rec < floor):
            bad.append(f"{m} recall {rec} < floor {floor}")
    missing = sorted(set(ANN_RECALL_FLOORS) - seen)
    if missing:
        bad.append(f"missing methods: {missing}")
    return bad


def _module_digests() -> dict[str, str]:
    """module-basename -> sha1 of its source, for every module under
    the package's operators/functions/pipelines/streaming/sources
    trees.  Lets a query hash change when an operator it calls is
    edited, not just when the builder function itself is."""
    import glob
    import hashlib

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "advanced_etl_pipelines_spark",
    )
    out = {}
    for sub in ("operators", "functions", "pipelines", "streaming",
                "sources", "plans"):
        for path in glob.glob(os.path.join(pkg, sub, "*.py")):
            base = os.path.splitext(os.path.basename(path))[0]
            with open(path, "rb") as f:
                out[f"{sub}.{base}"] = hashlib.sha1(f.read()).hexdigest()
    return out


_MODULE_REF_RE = None


def _query_hashes(qs: dict, oracles: dict) -> dict[str, str]:
    """name -> sha1 over (builder source, oracle SQL, digests of the
    package modules the builder references).  Builder source via
    inspect; registry builders import their operators LOCALLY, so the
    referenced module names are visible in the builder source and an
    edit to e.g. operators/bpe.py flips the hash of every query whose
    source mentions ``operators.bpe``.  A decorator-wrapped or
    dynamically-built callable that defeats inspect hashes as its
    repr-stable module+qualname, which still flags add/remove."""
    import hashlib
    import inspect
    import re

    global _MODULE_REF_RE
    digests = _module_digests()
    if _MODULE_REF_RE is None:
        _MODULE_REF_RE = re.compile(
            r"(operators|functions|pipelines|streaming|sources|plans)"
            r"(?:\s+import\s+|\.)(\w+)"
        )
    out = {}
    for name, fn in qs.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = f"{fn.__module__}.{getattr(fn, '__qualname__', name)}"
        # NOT the builder's own registry module: its relevant part (the
        # builder function) is already hashed as source, and a whole-
        # module digest would turn any single-query edit into a rerun
        # of every query in that file
        self_mod = f"plans.{fn.__module__.rsplit('.', 1)[-1]}"
        refs = {
            f"{grp}.{mod}" for grp, mod in _MODULE_REF_RE.findall(src)
        } - {self_mod}
        ref_part = "|".join(
            f"{r}={digests[r]}" for r in sorted(refs) if r in digests
        )
        body = src + "\n\x00\n" + oracles.get(name, "") + "\n\x00\n" + ref_part
        out[name] = hashlib.sha1(body.encode()).hexdigest()
    return out


def _changed_selection(qs: dict, oracles: dict):
    """(names_to_run, new_manifest_dict): changed/new queries + the
    rotating 1/ROTATION_BUCKETS slice of the rest."""
    import hashlib
    import json

    cur = _query_hashes(qs, oracles)
    old = {"queries": {}, "rotation": 0}
    if os.path.exists(MANIFEST):
        with open(MANIFEST) as f:
            old = json.load(f)
    rot = int(old.get("rotation", 0)) % ROTATION_BUCKETS
    prev = old.get("queries", {})
    changed = {n for n, h in cur.items() if prev.get(n) != h}
    slice_ = {
        n
        for n in cur
        if int(hashlib.sha1(n.encode()).hexdigest(), 16) % ROTATION_BUCKETS
        == rot
    }
    run = sorted(changed | slice_)
    new_manifest = {
        "queries": cur,
        "rotation": (rot + 1) % ROTATION_BUCKETS,
        "last_changed": sorted(changed),
        "last_slice_bucket": rot,
    }
    return run, new_manifest


def _write_manifest(manifest: dict) -> None:
    import json

    with open(MANIFEST, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if not math.isfinite(v):
            # NaN/±Inf as sentinel strings BEFORE the magnitude branch:
            # int(math.log10(inf)) raises OverflowError, and row_multiset
            # runs outside the per-query try/except — one infinite cell
            # would crash the whole gate run instead of failing its
            # query (round-7 ADVICE)
            if math.isnan(v):
                return "NaN"
            return "Inf" if v > 0 else "-Inf"
        # 4 decimals, capped at 10 SIGNIFICANT digits once the value
        # is money-aggregate-sized.  Spark's partial-agg merge order
        # varies run to run, so big double SUMs carry run-to-run
        # noise; hashing a ROUND(x, 2) cell whose quantum sits within
        # that noise is a coin flip.  Two round-7 full sf1 gates each
        # failed exactly one such cell and matched cell-for-cell on
        # rerun: rollup_pricing's 6M-row grand total (~3.2e11, cent
        # quantum under ~1e-4 noise), then revenue_ma_crossover's
        # monthly sums (~5e9, cent quantum under ~1e-5 noise, 200+
        # exposed cells).  Ten significant digits sits orders of
        # magnitude above the noise and orders below any real defect
        # (losing ONE row moves a money aggregate by >= the row's
        # value, ~1e5 here); small values keep exact 4-decimal
        # semantics.  Negative ndigits (python-legal) keeps the cap
        # above 1e10.
        m = abs(v)
        digits = 4 if m < 1e6 else 9 - int(math.log10(m))
        # -0.0 and 0.0 are one answer, but their reprs differ: DuckDB's
        # ROUND returns -0.0 where Spark's returns 0.0
        return round(v, digits) or 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def row_multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def parse_argv(argv: list[str]):
    """(json_out, changed_mode, sf_dir, only) — flags accepted in any
    order (round-5 ADVICE: positional-only parsing made `--changed
    --json out.json sf_dir` silently treat --json as sf_dir).  Raises
    SystemExit on an unknown flag or a dangling --json."""
    json_out = None
    changed_mode = False
    rest: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--json":
            if i + 1 >= len(argv):
                raise SystemExit("FAIL  --json needs a path argument")
            json_out = argv[i + 1]
            i += 2
        elif a == "--changed":
            changed_mode = True
            i += 1
        elif a.startswith("--"):
            raise SystemExit(f"FAIL  unknown flag {a}")
        else:
            rest.append(a)
            i += 1
    sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
    return json_out, changed_mode, sf_dir, set(rest[1:])


def main() -> int:
    json_out, changed_mode, sf_dir, only = parse_argv(sys.argv[1:])

    import __spark_entry__ as entrymod
    from advanced_etl_pipelines_spark.session import get_spark

    spark = get_spark("oracle-check")

    def fresh_con(limit: str = "32GB"):
        # Bounded DuckDB: the Spark JVM shares this box, and DuckDB's
        # default budget (80% of RAM) collides with it on long gates —
        # a 300-query sf1 run OOM-poisoned the connection and every
        # later oracle died with it (round-4 incident).  Cap memory,
        # give it a spill directory, and let the gate loop rebuild the
        # connection on an OOM instead of failing the rest of the run;
        # the retry escalates to 64GB for the one genuinely huge oracle
        # (kcore's 24M-edge peel unroll) while keeping the steady-state
        # budget small.
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{limit}'")
        c.execute("SET temp_directory='/tmp/duckdb_spill'")
        for t in TABLES:
            # driver testdata = one file per table; make_scale_data
            # output = a DIRECTORY of per-copy files
            path = os.path.abspath(os.path.join(sf_dir, f"{t}.parquet"))
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return c

    con = fresh_con()

    from advanced_etl_pipelines_spark.operators.caching import (
        release_tracked_caches,
    )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    new_manifest = None
    if changed_mode:
        run_names, new_manifest = _changed_selection(qs, oracles)
        print(
            f"--changed: {len(new_manifest['last_changed'])} changed/new, "
            f"slice bucket {new_manifest['last_slice_bucket']}/"
            f"{ROTATION_BUCKETS} -> {len(run_names)} queries"
        )
        only = set(run_names) | only
    if only:
        unknown = sorted(only - set(qs))
        if unknown:
            # a typo'd name must fail loudly, not report "1/1 passed"
            print(f"FAIL  unknown query name(s): {unknown}")
            return 1
    # Expected-frame oracles are exact only at the driver's sf0.01
    # (VALUES literals for deterministic non-SQL computations); at any
    # other sf they fall back to the rows-only check.
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.01":
        from advanced_etl_pipelines_spark.plans.registry import (
            SF_PINNED_ORACLES,
        )

        oracles = {
            k: v for k, v in oracles.items() if k not in SF_PINNED_ORACLES
        }
    failures = []
    records: dict[str, dict] = {}

    def record(name, status, rows, t0, extra=None):
        records[name] = {
            "status": status,
            "rows": rows,
            "sec": round(time.time() - t0, 2),
        }
        if extra:
            records[name].update(extra)
        release_tracked_caches()

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            record(name, "fail:spark-error", 0, t0)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rowsonly {name}: rows={len(srows)} ({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                failures.append(name)
                record(name, "fail:zero-rows", 0, t0)
                print(f"FAIL  {name}: zero rows")
                continue
            # no-oracle queries with a registered value invariant get
            # it asserted at THIS sf (round-8 VERDICT item 4); the
            # measured recalls land in the artifact either way (round-9
            # VERDICT item 3 — pass/fail alone hides a slow decay
            # inside the floors)
            inv, extra = [], None
            if name == "ann_recall_report":
                inv = ann_recall_violations(srows)
                extra = {
                    "recalls": {
                        r["method"]: (
                            None
                            if r["recall_at_5"] is None
                            else round(float(r["recall_at_5"]), 4)
                        )
                        for r in srows
                    }
                }
            if inv:
                failures.append(name)
                record(name, "fail:invariant", len(srows), t0, extra)
                print(f"FAIL  {name}: " + "; ".join(inv))
            else:
                record(
                    name,
                    "rowsonly+floors"
                    if name == "ann_recall_report"
                    else "rowsonly",
                    len(srows),
                    t0,
                    extra,
                )
            continue
        try:
            try:
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
            except duckdb.Error as e:
                # An OOM poisons the steady connection — ALWAYS rebuild
                # it before anything else, so a failed retry can never
                # cascade into every later oracle dying with
                # "Connection has already been closed" (the round-5
                # sf1-gate incident: one borderline oracle took the
                # last 8 queries down with it).
                oom = "Out of Memory" in str(e) or "bad allocation" in str(e)
                try:
                    con.close()
                except Exception:
                    pass
                con = fresh_con()
                if not oom:
                    raise
                # one escalated retry for the genuinely huge oracle;
                # its own failure must also leave the gate alive
                big = fresh_con("96GB")
                try:
                    res = big.execute(oracles[name])
                    dcols = [d[0] for d in res.description]
                    drows = res.fetchall()
                finally:
                    try:
                        big.close()
                    except Exception:
                        pass
        except Exception as e:
            failures.append(name)
            record(name, "fail:duckdb-error", len(srows), t0)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        ok = True
        if len(srows) != len(drows):
            ok = False
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            ok = False
            print(f"FAIL  {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
        if ok:
            sm = row_multiset(srows, scols)
            dm = row_multiset(drows, dcols)
            if sm != dm:
                ok = False
                diff_s = list((sm - dm).items())[:3]
                diff_d = list((dm - sm).items())[:3]
                print(f"FAIL  {name}: value mismatch\n  spark-only: {diff_s}\n  duck-only:  {diff_d}")
        if ok:
            record(name, "ok", len(srows), t0)
            print(f"OK    {name}: rows={len(srows)} ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            record(name, "fail:mismatch", len(srows), t0)

    n_run = len(records)  # queries actually executed, not names requested
    print(f"\n{n_run - len(failures)}/{n_run} passed")
    if not failures:
        if changed_mode and new_manifest is not None:
            _write_manifest(new_manifest)
            print(f"manifest refreshed: {MANIFEST}")
        elif not only:
            # a green FULL run also refreshes the hash baseline (keeps
            # the stored rotation so slices still cycle)
            import json as _json

            rot = 0
            if os.path.exists(MANIFEST):
                with open(MANIFEST) as f:
                    rot = int(_json.load(f).get("rotation", 0))
            _write_manifest(
                {
                    "queries": _query_hashes(qs, oracles),
                    "rotation": rot,
                    "last_changed": [],
                    "last_slice_bucket": None,
                }
            )
    if json_out:
        import json as _json

        ok_n = sum(1 for r in records.values() if r["status"] == "ok")
        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_run": n_run,
                    "n_passed": n_run - len(failures),
                    "n_oracle_ok": ok_n,
                    "failures": sorted(failures),
                    "queries": records,
                },
                f,
                indent=1,
                sort_keys=True,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
