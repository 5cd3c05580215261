"""Opt-in oracle gate as pytest tests (round-3 VERDICT item 7).

``pytest -m oracle`` runs every registry query with DuckDB oracle SQL
and compares row count + columns + order-insensitive value multiset —
the driver's t2 gate, but continuously and over ALL oracle queries
(the driver samples 50).  Deselected by default (pytest.ini addopts)
so the fast suite stays fast; sf0.001 keeps the full pass under 5 min.

sf-PINNED oracles (expected-output frames computed at sf0.01, e.g.
pca_embedding_projection) run against sf0.01 instead — that is the
only sf where their VALUES literals are the right answer.
"""

from __future__ import annotations

import duckdb
import pytest

from scripts.check_oracle import TABLES, row_multiset

pytestmark = pytest.mark.oracle

SF_FAST = "/root/testdata/sf0.001"
SF_PIN = "/root/testdata/sf0.01"


def _entry():
    import __spark_entry__ as e

    return e


def _pinned() -> set[str]:
    from advanced_etl_pipelines_spark.plans.registry import (
        SF_PINNED_ORACLES,
    )

    return set(SF_PINNED_ORACLES)


_E = _entry()
_ORACLES = _E.oracle_sql()
_QUERIES = _E.queries()
_PINNED = _pinned()


@pytest.fixture(scope="module")
def ducks():
    cons: dict[str, duckdb.DuckDBPyConnection] = {}
    for sf in (SF_FAST, SF_PIN):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
            )
        cons[sf] = con
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_match(name, spark, ducks):
    sf = SF_PIN if name in _PINNED else SF_FAST
    sdf = _QUERIES[name](spark, sf)
    scols, srows = sdf.columns, sdf.collect()
    res = ducks[sf].execute(_ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), (
        f"rowcount spark={len(srows)} duck={len(drows)}"
    )
    assert sorted(scols) == sorted(dcols)
    sm, dm = row_multiset(srows, scols), row_multiset(drows, dcols)
    assert sm == dm, (
        f"value mismatch; spark-only={list((sm - dm).items())[:3]} "
        f"duck-only={list((dm - sm).items())[:3]}"
    )
    from advanced_etl_pipelines_spark.operators.caching import (
        release_tracked_caches,
    )

    release_tracked_caches()
