"""Answer pins for the registry entries written as SQL.

A SQL entry's text is both its Spark plan and its DuckDB oracle, so the
oracle gate no longer compares two independent derivations of its
answer.  These pins stand in for the second derivation: each entry's
answer digest (``answer_digest`` below) was recorded from the DataFrame
body it replaced, at sf0.01 and sf0.1, and the SQL must still produce
it.  sf0.01 runs in the default suite; sf0.1 is
opt-in with the oracle gate (``pytest -m oracle``).
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from conftest import SF_SMOKE

from scripts.check_oracle import row_multiset

PINS = os.path.join(
    os.path.dirname(__file__), "fixtures", "sql_entry_digests.json"
)
SF = {
    sf: os.path.join(os.path.dirname(SF_SMOKE), sf) for sf in ("sf0.01", "sf0.1")
}


def answer_digest(rows, cols) -> str:
    """Short hash of an answer: its sorted column names plus its
    ``row_multiset``, so it is as order- and noise-insensitive as the
    oracle gate's own comparison."""
    cells = sorted(row_multiset(rows, cols).items(), key=repr)
    body = repr((sorted(cols), cells))
    return hashlib.sha1(body.encode()).hexdigest()[:16]


def test_answer_digest_ignores_the_sign_of_zero():
    # DuckDB's ROUND gives -0.0 where Spark's gives 0.0 (mom_revenue_growth
    # at sf0.1); the two are one answer
    assert answer_digest([(-0.0,)], ["x"]) == answer_digest([(0.0,)], ["x"])
    assert answer_digest([(-0.00001,)], ["x"]) == answer_digest([(0.0,)], ["x"])
    assert answer_digest([(-1.5,)], ["x"]) != answer_digest([(1.5,)], ["x"])


def _pins() -> dict[str, list[str]]:
    with open(PINS) as f:
        return json.load(f)


def _mismatches(spark, scale: str) -> dict[str, tuple[str, str]]:
    from advanced_etl_pipelines_spark.plans.registry import QUERIES

    col = list(SF).index(scale)
    bad = {}
    for name, digests in _pins().items():
        df = QUERIES[name](spark, SF[scale])
        got = answer_digest(df.collect(), df.columns)
        if got != digests[col]:
            bad[name] = (got, digests[col])
    return bad


def test_every_sql_entry_is_pinned():
    from advanced_etl_pipelines_spark.plans.registry import (
        ORACLE_SQL,
        SF_PINNED_ORACLES,
        SQL_QUERIES,
    )

    assert set(_pins()) == SQL_QUERIES
    assert not SQL_QUERIES & SF_PINNED_ORACLES
    assert SQL_QUERIES <= set(ORACLE_SQL)


def test_sql_entries_keep_their_dataframe_answers_sf001(spark):
    assert not _mismatches(spark, "sf0.01")


@pytest.mark.oracle
def test_sql_entries_keep_their_dataframe_answers_sf01(spark):
    assert not _mismatches(spark, "sf0.1")
