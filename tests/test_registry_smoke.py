"""Fast registry smoke at sf0.001: every query runs and returns rows with a
stable schema; full DuckDB comparison lives in scripts/check_oracle.py (and
the driver's t2)."""

from __future__ import annotations

import pytest

from advanced_etl_pipelines_spark.plans.registry import ORACLE_SQL, QUERIES

SF = "/root/testdata/sf0.001"

# join_anti legitimately returns 0 rows when every customer has orders.
MAY_BE_EMPTY = {"join_anti"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, name):
    df = QUERIES[name](spark, SF)
    rows = df.collect()
    assert df.columns, name
    if name not in MAY_BE_EMPTY:
        assert len(rows) > 0, f"{name} returned no rows"


def test_every_oracle_has_query():
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert len(df.collect()) > 0


def test_drift_ks_bucketed_parity_with_exact(spark):
    """The bucketed-CDF KS underestimates exact KS by at most the
    largest within-bucket CDF step; on the testdata the 64-bucket
    approximation must land within 0.05 absolute of exact."""
    import __spark_entry__ as e

    qs = e.queries()
    sf = "/root/testdata/sf0.01"
    exact = qs["drift_ks_value"](spark, sf).collect()[0]["ks_stat"]
    approx = qs["drift_ks_bucketed"](spark, sf).collect()[0]["ks_stat"]
    assert approx <= exact + 1e-9
    assert abs(exact - approx) < 0.05


def test_lineage_extraction_known_queries(spark):
    """Plan-derived lineage matches the known table sets for a star
    join, a documents query, and a generator-only query."""
    import __spark_entry__ as e
    from scripts.lineage import tables_of

    sf = "/root/testdata/sf0.001"
    q = e.queries()
    assert tables_of(q["tpch_q3_top_revenue"](spark, sf), sf) == [
        "customer", "lineitem", "orders",
    ]
    assert tables_of(q["text_stats"](spark, sf), sf) == ["documents"]
    assert tables_of(q["mom_revenue_growth"](spark, sf), sf) == [
        "customer", "nation", "orders",
    ]


def test_readme_registry_counts_match_reality():
    """README's query/oracle counts must track the registry (round-2
    ADVICE: stale hand-maintained counts) — regenerate the prose when
    this fails."""
    import re

    import __spark_entry__ as e

    n_q, n_o = len(e.queries()), len(e.oracle_sql())
    text = open("README.md").read()
    m = re.search(r"the (\d+)-query registry — (\d+) with DuckDB", text)
    assert m, "README registry-count sentence missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_q, n_o), (
        f"README says {m.groups()}, registry has ({n_q}, {n_o})"
    )


def test_graph_first_prefixes_match_the_registry():
    """bench.sweep_order hoists the graph family at sf >= 1 by name
    prefix (round-8 VERDICT item 3) — a renamed graph query would
    silently fall out of the hoist and re-create the eviction outlier,
    so pin the prefix list against the live registry."""
    import importlib.util
    import os

    import __spark_entry__ as e

    spec = importlib.util.spec_from_file_location(
        "bench_under_test",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    hoisted = {
        n for n in e.queries() if n.startswith(bench.GRAPH_FIRST_PREFIXES)
    }
    assert hoisted == {
        "triangle_count_copurchase",
        "pagerank_copurchase",
        "personalized_pagerank_recs",
        "kcore_copurchase",
        "community_label_propagation",
        "local_clustering_topk",
        "link_prediction_adamic_adar",
        "degree_assortativity",
        "textrank_keywords",
    }
