"""Invariants and plan shapes for the round-2 advanced query family
(plans/registry_advanced.py): classifier gating, SCD2 intervals,
triangle counting, CUSUM, bigram LM, salted aggregation parity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e

    return e.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quality_classifier_scores_bounded(spark, queries):
    rows = queries["quality_classifier_linear"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.score <= 1.0
        assert r.keep == (r.score >= 0.5)
        assert r.n_tokens > 0


def test_quality_classifier_broadcasts_weights(spark, queries):
    plan = _plan(queries["quality_classifier_linear"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_scd2_intervals_partition_user(spark, queries):
    df = queries["scd2_user_state"](spark, SF)
    rows = df.collect()
    # exactly one current row per user, and intervals don't repeat state
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in rs if r.is_current) == 1, uid
        assert rs[-1].valid_to == "current"
        for a, b in zip(rs, rs[1:]):
            assert a.event_type != b.event_type or a.valid_to <= b.valid_from
    # windows are user-partitioned: no single-partition window warning
    plan = _plan(df)
    assert "Window" in plan


def test_scd2_interval_chain_covers_stream(spark, queries):
    """valid_to of each closed interval equals valid_from of the next."""
    rows = queries["scd2_user_state"](spark, SF).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for rs in by_user.values():
        rs.sort(key=lambda r: (r.valid_from, r.valid_to == "current"))
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from


def test_triangle_count_on_known_graph(spark):
    """4-clique minus one edge has 2 triangles, 5 edges, clustering
    3*2/wedges."""
    from advanced_etl_pipelines_spark.plans.registry_advanced import (
        q_triangle_count_copurchase,  # noqa: F401  (pattern exercised below)
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], ["s", "d"]
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    n_tri = (
        e1.join(e2, F.col("e1.d") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s"))
            & (F.col("e3.d") == F.col("e2.d")),
        )
        .count()
    )
    assert n_tri == 2


def test_cusum_changepoint_shape(spark, queries):
    r = queries["cusum_changepoint_daily"](spark, SF).collect()
    assert len(r) == 1
    assert r[0].max_abs_cusum >= 0
    assert r[0].n_days >= 1


def test_bigram_lm_perplexity_positive(spark, queries):
    rows = queries["bigram_lm_perplexity"](spark, SF).collect()
    assert rows
    for r in rows:
        # perplexity of a smoothed LM is >= 1 and finite
        assert r.avg_ppl >= 1.0
        assert r.n_docs > 0


def test_salted_agg_matches_plain_groupby(spark, queries):
    """The salted two-phase aggregate must be bit-identical (after the
    shared rounding) to the naive groupBy it protects against skew."""
    from advanced_etl_pipelines_spark.plans.registry import r2, r4
    from advanced_etl_pipelines_spark.sources.readers import read_sf_table

    ev = read_sf_table(spark, SF, "events")
    plain = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            r2(F.sum("value")).alias("sum_value"),
            r4(F.sum("value") / F.count("value")).alias("avg_value"),
        )
    )
    salted = queries["salted_hot_key_agg"](spark, SF)
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.collect()}
    assert a == b


def test_salted_agg_two_exchanges(spark, queries):
    """Salting must actually produce the two-level shape: an exchange on
    (event_type, salt) before the final exchange on event_type."""
    plan = _plan(queries["salted_hot_key_agg"](spark, SF))
    assert plan.count("Exchange hashpartitioning") >= 2


def test_average_hash_clusters_and_determinism(spark):
    """Identical luminance layouts must collide; flipped layouts must
    not.  patterns=4 on sequential ids yields exactly 4 hash clusters."""
    from advanced_etl_pipelines_spark.operators import multimodal as M

    base = spark.range(64).select(F.col("id").alias("doc_id"))
    media = M.attach_png_media(base, "doc_id", patterns=4)
    hashed = M.average_hash_media(media, grid=8)
    rows = hashed.collect()
    by_pattern: dict[int, set] = {}
    for r in rows:
        by_pattern.setdefault(r.id % 4, set()).add(r.phash)
    # each pattern family collapses to ONE hash despite ±8px size and
    # per-id blue-channel jitter ...
    assert all(len(v) == 1 for v in by_pattern.values())
    # ... and the 4 families are mutually distinct
    assert len({next(iter(v)) for v in by_pattern.values()}) == 4


def test_pit_join_no_lookahead(spark, queries):
    """PIT states must come only from non-purchase events (no label
    leakage): every state value is a real non-purchase event type."""
    rows = queries["pit_join_state_at_purchase"](spark, SF).collect()
    states = {r.state_at_purchase for r in rows}
    assert "purchase" not in states
    assert states


def test_span_corruption_shuffle_free(spark, queries):
    """Pure per-row HOF pipeline: no Exchange anywhere in the plan."""
    plan = _plan(queries["span_corruption_pairs"](spark, SF))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_span_corruption_roundtrip(spark, queries):
    """Interleaving target spans back into the input at the sentinels
    must reconstruct the original token stream."""
    rows = queries["span_corruption_pairs"](spark, SF).limit(50).collect()
    import re

    from advanced_etl_pipelines_spark.functions.text import WORD_SPLIT_RE  # noqa: F401

    for r in rows:
        inp, tgt = r.input_text.split(), r.target_text.split()
        # parse target into span_id -> tokens
        spans: dict[str, list[str]] = {}
        cur = None
        for t in tgt:
            if re.fullmatch(r"<extra_id_\d+>", t):
                cur = t
                spans[cur] = []
            else:
                assert cur is not None
                spans[cur].append(t)
        rebuilt: list[str] = []
        for t in inp:
            if re.fullmatch(r"<extra_id_\d+>", t):
                rebuilt.extend(spans[t])
            else:
                rebuilt.append(t)
        assert len(rebuilt) == r.n_tokens


def test_incremental_dedup_partitions_cover_corpus(spark, queries):
    """new + dup_vs_base + dup_within_batch = the whole increment."""
    from advanced_etl_pipelines_spark.operators.sampling import unit_hash
    from advanced_etl_pipelines_spark.sources.readers import read_sf_table

    rows = queries["dedup_incremental_against_base"](spark, SF).collect()
    total = sum(r.n_docs for r in rows)
    docs = read_sf_table(spark, SF, "documents")
    n_inc = docs.where(~(unit_hash("doc_id") < 0.7)).count()
    assert total == n_inc
    assert {r.status for r in rows} <= {
        "new", "dup_vs_base", "dup_within_batch"
    }


def test_label_centroid_cos_bounds(spark, queries):
    rows = queries["embedding_label_centroids"](spark, SF).collect()
    assert rows
    for r in rows:
        assert -1.0001 <= r.centroid_cos <= 1.0001
        assert r.label_a < r.label_b


def test_rfm_scores_partition_customers(spark, queries):
    from advanced_etl_pipelines_spark.sources.readers import read_sf_table

    rows = queries["rfm_segments"](spark, SF).collect()
    assert rows
    n_customers = sum(r.n_customers for r in rows)
    orders = read_sf_table(spark, SF, "orders")
    base = orders.select("o_custkey").distinct().count()
    assert n_customers == base
    for r in rows:
        assert 1 <= r.r_score <= 5
        assert 1 <= r.f_score <= 5
        assert 1 <= r.m_score <= 5


def test_association_rules_metric_bounds(spark, queries):
    rows = queries["association_rules_pairs"](spark, SF).collect()
    for r in rows:
        assert 0 < r.support <= 1
        assert 0 < r.confidence <= 1
        assert r.lift > 0
        assert r.pair_orders >= 3
        assert r.x < r.y
    # sorted by lift desc
    lifts = [r.lift for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_simhash_portable_shuffle_free_and_near_dup_property(spark, queries):
    """Signature query has no Exchange; near-identical docs get
    Hamming-close signatures while different docs differ."""
    plan = _plan(queries["dedup_simhash_portable"](spark, SF))
    assert "Exchange" not in plan

    from advanced_etl_pipelines_spark.plans.registry_advanced import (
        q_dedup_simhash_portable,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base + "extra tail token"
    far = "completely different content about spark shuffles " * 8
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "doc_id long, text string"
    )
    df.createOrReplaceTempView("_sim_docs")
    # reuse the fold by monkey-calling the query against a temp sf dir is
    # overkill; compute directly through the registered function's logic
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/documents.parquet")
        rows = {
            r.doc_id: r.simhash
            for r in q_dedup_simhash_portable(spark, d).collect()
        }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(rows[0], rows[1]) <= 4
    assert ham(rows[0], rows[2]) > ham(rows[0], rows[1])


def test_fingerprint_portable_order_sensitive(spark):
    from advanced_etl_pipelines_spark.plans.registry_advanced import (
        q_text_fingerprint_portable,
    )
    import tempfile

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(d + "/documents.parquet")
        rows = {
            r.doc_id: r.fingerprint
            for r in q_text_fingerprint_portable(spark, d).collect()
        }
    assert rows[0] == rows[2]  # same order -> same fp
    assert rows[0] != rows[1]  # reorder -> different fp
