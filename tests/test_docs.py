"""Doc-count drift guards (round-3 VERDICT item 8): the query counts
embedded in README.md and QUERIES.md must match the live registry —
regenerate with ``python scripts/gen_query_docs.py`` after adding
queries.  (The test count in README.md is also generator-maintained,
but asserting it from inside a partial pytest run would be circular,
so the generator is its keeper.)
"""

from __future__ import annotations

import re

import pytest

from scripts.gen_query_docs import first_sentence


def _counts():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    return len(q), len(o)


def test_readme_counts_match_registry():
    n_q, n_o = _counts()
    text = open("/root/repo/README.md").read()
    m = re.search(
        r"the (\d+)-query registry — (\d+) with DuckDB oracle SQL", text
    )
    assert m, "README.md lost its registry-count sentence"
    assert (int(m.group(1)), int(m.group(2))) == (n_q, n_o), (
        "README.md counts drifted — run scripts/gen_query_docs.py"
    )


def test_queries_md_counts_match_registry():
    n_q, n_o = _counts()
    text = open("/root/repo/QUERIES.md").read()
    m = re.search(
        r"\*\*(\d+) queries: (\d+) DuckDB-oracle-checked, (\d+) rows-only\*\*",
        text,
    )
    assert m, "QUERIES.md lost its header counts"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        n_q,
        n_o,
        n_q - n_o,
    ), "QUERIES.md drifted — run scripts/gen_query_docs.py"
    # and every registry query has a catalog row
    rows = re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M)
    import __spark_entry__ as e

    assert set(rows) == set(e.queries()), "QUERIES.md rows drifted"


@pytest.mark.parametrize(
    "doc, want",
    [
        ("DSIR-style weighting (Xie et al. 2023): w = p/q. More.",
         "DSIR-style weighting (Xie et al. 2023): w = p/q."),
        ("Covers e.g. Latin scripts. More.", "Covers e.g. Latin scripts."),
        ("Slack grows with lag, cf. Flink. More.", "Slack grows with lag, cf. Flink."),
        ("Model A vs. model B. More.", "Model A vs. model B."),
        ("Fills in gaps (a. b. c) per key. More.", "Fills in gaps (a. b. c) per key."),
        ("A 1st, 2nd (... and so on. ) index. More.", "A 1st, 2nd (... and so on. ) index."),
        ("One sentence.", "One sentence."),
        ("No stop at all", "No stop at all"),
    ],
    ids=["et-al", "e.g.", "cf.", "vs.", "parentheses", "ellipsis", "one", "none"],
)
def test_first_sentence_skips_abbreviations_and_parentheses(doc, want):
    assert first_sentence(doc) == want
