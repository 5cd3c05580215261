"""Similarity search: brute-force exactness + LSH recall floor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from advanced_etl_pipelines_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    from advanced_etl_pipelines_spark.sources.readers import read_sf_table

    return read_sf_table(spark, SF, "embeddings")


def test_brute_force_planted_duplicate(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),   # exact copy of 1
        (3, [0.9, 0.1, 0.0]),
        (4, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.brute_force_topk(df, df.where(F.col("vec_id") == 1),
                             "embedding", "vec_id", k=2).collect()
    assert out[0]["neighbor_id"] == 2 and abs(out[0]["cos_sim"] - 1.0) < 1e-12
    assert out[1]["neighbor_id"] == 3


def test_brute_force_excludes_self_and_ranks(emb, spark):
    q = emb.where(F.col("vec_id") < 5)
    out = S.brute_force_topk(emb, q, "embedding", "vec_id", k=5)
    rows = out.collect()
    assert len(rows) == 25
    by_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    for _, rs in by_q.items():
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_lsh_recall_floor_vs_brute_force(emb, spark):
    """LSH is approximate; on sf0.001 (500 vecs, 64-dim) demand >= 40%
    top-5 recall with the default 16-plane/4-band config."""
    q = emb.where(F.col("vec_id") < 20)
    bf = S.brute_force_topk(emb, q, "embedding", "vec_id", k=5)
    lsh = S.lsh_topk(emb, q, "embedding", "vec_id", k=5)
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    lsh_pairs = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    recall = len(bf_pairs & lsh_pairs) / len(bf_pairs)
    assert recall >= 0.4, f"LSH recall {recall:.2f} below floor"


def test_ivf_recall_floor_vs_brute_force(emb, spark):
    """IVF with 4/16 probes on sf0.001: demand >= 50% top-5 recall (data-
    adaptive clusters usually beat LSH at equal candidate budget)."""
    q = emb.where(F.col("vec_id") < 20)
    bf = S.brute_force_topk(emb, q, "embedding", "vec_id", k=5)
    ivf = S.ivf_topk(emb, q, "embedding", "vec_id", k=5, n_clusters=16, n_probe=4)
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ivf_pairs = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(bf_pairs & ivf_pairs) / len(bf_pairs)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_ivf_full_probe_is_exact(emb, spark):
    """n_probe == n_clusters degrades to exact brute force — same pairs."""
    q = emb.where(F.col("vec_id") < 5)
    bf = S.brute_force_topk(emb, q, "embedding", "vec_id", k=5)
    ivf = S.ivf_topk(emb, q, "embedding", "vec_id", k=5, n_clusters=8, n_probe=8)
    assert {(r["query_id"], r["neighbor_id"]) for r in bf.collect()} == {
        (r["query_id"], r["neighbor_id"]) for r in ivf.collect()
    }


def test_lsh_deterministic_across_runs(emb, spark):
    q = emb.where(F.col("vec_id") < 3)
    a = sorted(map(tuple, S.lsh_topk(emb, q, "embedding", "vec_id", k=3)
                   .select("query_id", "neighbor_id").collect()))
    b = sorted(map(tuple, S.lsh_topk(emb, q, "embedding", "vec_id", k=3)
                   .select("query_id", "neighbor_id").collect()))
    assert a == b


def test_semdedup_removal_rule_matches_numpy(emb, spark):
    """Pin the SemDeDup removal rule: given the (deterministic) k-means
    assignment, a vector is removed iff some same-cluster vector with a
    smaller id has cosine >= 0.95.  Recompute per-cluster removal counts
    with numpy from the same assignment and compare."""
    import numpy as np

    from advanced_etl_pipelines_spark.operators.linalg import kmeans_lloyd
    from advanced_etl_pipelines_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r["cluster"]: (r["n_vecs"], r["n_removed"])
        for r in QUERIES["semdedup_embedding"](spark, sf).collect()
    }

    _, assign = kmeans_lloyd(emb, "embedding", "vec_id", k=16, iters=3)
    rows = (
        emb.select("vec_id", "embedding")
        .join(assign.withColumnRenamed("id", "vec_id"), "vec_id")
        .collect()
    )
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(
            (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        )
    for c, members in by_cluster.items():
        members.sort()
        removed = set()
        for i, (ida, va) in enumerate(members):
            for idb, vb in members[:i]:
                cs = float(
                    va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
                )
                # mirror the engine's threshold quantization (round-8
                # ADVICE): both sides compare ROUND(cs + 1e-9, 6)
                if round(cs + 1e-9, 6) >= 0.95:
                    removed.add(ida)
                    break
        assert got[c] == (len(members), len(removed)), f"cluster {c}"


def test_pq_recall_floor_vs_brute_force(emb, spark):
    """PQ-ADC shortlist + exact rerank on sf0.001: with a 16x32 codebook
    on 64-dim data and a 4k shortlist, demand >= 70% top-5 recall —
    aligned with the oracle gate's tightened floor (round-9 VERDICT
    item 3; measured 0.85 here with the 16x32 codebook, 0.87 at sf0.01,
    numpy reference agrees)."""
    q = emb.where(F.col("vec_id") < 20)
    bf = S.brute_force_topk(emb, q, "embedding", "vec_id", k=5)
    pq = S.pq_topk(emb, q, "embedding", "vec_id", k=5)
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    pq_pairs = {(r["query_id"], r["neighbor_id"]) for r in pq.collect()}
    recall = len(bf_pairs & pq_pairs) / len(bf_pairs)
    assert recall >= 0.7, f"PQ recall {recall:.2f} below floor"


def test_pq_deterministic_and_exact_scores(emb, spark):
    """Reranked cos_sim values must equal brute-force cosine for the
    pairs both return (the rerank is exact), and runs are deterministic."""
    q = emb.where(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in S.brute_force_topk(emb, q, "embedding", "vec_id", k=5).collect()
    }
    a = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in S.pq_topk(emb, q, "embedding", "vec_id", k=5).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in S.pq_topk(emb, q, "embedding", "vec_id", k=5).collect()
    }
    assert a == b
    for pair, cs in a.items():
        if pair in bf:
            assert abs(cs - bf[pair]) < 1e-9


def test_kcenter_greedy_picks_farthest_each_round(spark):
    from advanced_etl_pipelines_spark.operators.linalg import kcenter_select

    # 1-D line embedded in 2-D: 0, 1, 10, 21 -> start at id 0 (x=0),
    # then greedy must take x=21 (id 3), then x=10 (id 2), then x=1
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [10.0, 0.0]),
         (3, [21.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = kcenter_select(df, "embedding", "vec_id", k=4)
    assert [t[1] for t in out] == [0, 3, 2, 1]
    radii = [t[2] for t in out]
    assert radii == sorted(radii, reverse=True)
    # after all points chosen, coverage radius is 0
    assert radii[-1] == 0.0


def test_kcenter_radius_monotone_on_real_vectors(spark):
    from advanced_etl_pipelines_spark.operators.linalg import kcenter_select

    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = kcenter_select(df, "embedding", "vec_id", k=6)
    radii = [t[2] for t in out]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert len({t[1] for t in out}) == 6


def test_semdedup_removal_rule_matches_numpy_sf1():
    """Scale twin of the removal-rule parity (the PCA-parity pattern,
    round 5): at sf1 (~5k vectors, adaptive k) take Spark's k-means
    assignment as given and recompute every cluster's removal count
    with vectorized numpy — the within-cluster pair logic is exactly
    what a scale-dependent SQL bug would corrupt.  Skips when the
    .localdata/sf1 corpus isn't built."""
    import os

    import numpy as np
    import pytest

    sf1 = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), ".localdata/sf1"
    )
    if not os.path.isdir(sf1):
        pytest.skip("scale corpus .localdata/sf1 not built")

    from advanced_etl_pipelines_spark.operators.linalg import kmeans_lloyd
    from advanced_etl_pipelines_spark.plans.registry import QUERIES
    from advanced_etl_pipelines_spark.sources.readers import read_sf_table
    from advanced_etl_pipelines_spark.session import get_spark

    spark = get_spark("semdedup-sf1")
    got = {
        r["cluster"]: (r["n_vecs"], r["n_removed"])
        for r in QUERIES["semdedup_embedding"](spark, sf1).collect()
    }

    emb = read_sf_table(spark, sf1, "embeddings")
    k = max(16, emb.count() // 256)
    _, assign = kmeans_lloyd(emb, "embedding", "vec_id", k=k, iters=3)
    rows = (
        emb.select("vec_id", "embedding")
        .join(assign.withColumnRenamed("id", "vec_id"), "vec_id")
        .collect()
    )
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(
            (r["vec_id"], r["embedding"])
        )
    for c, members in by_cluster.items():
        members.sort()
        V = np.asarray([v for _i, v in members], dtype=np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        sims = V @ V.T
        # removed iff any EARLIER (smaller-id) member has cosine >= .95
        # (quantized ROUND(cs + 1e-9, 6) like both engines, round-8
        # ADVICE — np.round is HALF_EVEN vs Spark's HALF_UP, but the
        # 1e-9 nudge moves values off exact half-quantum boundaries)
        tri = np.round(np.tril(sims, k=-1) + 1e-9, 6)
        n_removed = int(((tri >= 0.95).any(axis=1)).sum())
        assert got[c] == (len(members), n_removed), f"cluster {c}"
