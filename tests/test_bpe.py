"""BPE vocabulary learning (operators/bpe.py) — parity with a
pure-Python Sennrich reference, within-round non-overlap semantics,
and partitioning-independence."""

from __future__ import annotations


def ref_bpe(vocab, k, eow="</w>"):
    """Sennrich et al. 2016 algorithm 1, verbatim sequential form."""
    v = {tuple(list(w) + [eow]): f for w, f in vocab}
    out = []
    for rank in range(1, k + 1):
        pairs: dict = {}
        for syms, f in v.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rank, a, b, a + b, cnt))
        nv: dict = {}
        for syms, f in v.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            nv[tuple(ns)] = nv.get(tuple(ns), 0) + f
        v = nv
    return out


def test_bpe_matches_sennrich_reference(spark):
    from advanced_etl_pipelines_spark.operators.bpe import bpe_learn

    data = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    words = spark.createDataFrame(data, "word string, freq long")
    assert bpe_learn(words, 6) == ref_bpe(data, 6)


def test_bpe_nonoverlapping_merge(spark):
    """'aaaa' with the (a,a) merge must become ['aa','aa','</w>'] —
    left-to-right non-overlap, a merged symbol never re-merges within
    its own round."""
    from advanced_etl_pipelines_spark.operators.bpe import bpe_learn

    words = spark.createDataFrame(
        [("aaaa", 3)], "word string, freq long"
    )
    got = bpe_learn(words, 2)
    assert got == ref_bpe([("aaaa", 3)], 2)
    assert got[0][1:4] == ("a", "a", "aa")
    # round 2: (aa,aa) and (aa,</w>) tie at count 3; the (count DESC,
    # pair ASC) tiebreak picks (aa,</w>) since '<' sorts before 'a'
    assert got[1][1:4] == ("aa", "</w>", "aa</w>")


def test_bpe_partitioning_independent(spark):
    """Same merges whatever the input partitioning — the argmax is an
    exact integer aggregate with a total-order tiebreak."""
    from advanced_etl_pipelines_spark.operators.bpe import bpe_learn

    data = [
        ("banana", 4), ("bandana", 2), ("ban", 7), ("anna", 5),
        ("nab", 1), ("baa", 3),
    ]
    w1 = spark.createDataFrame(data, "word string, freq long").coalesce(1)
    w8 = spark.createDataFrame(data, "word string, freq long").repartition(8)
    expect = ref_bpe(data, 8)
    assert bpe_learn(w1, 8) == expect
    assert bpe_learn(w8, 8) == expect


def test_bpe_exhausts_gracefully(spark):
    """More merge rounds than pairs: stops at full merge, no error."""
    from advanced_etl_pipelines_spark.operators.bpe import bpe_learn

    words = spark.createDataFrame([("ab", 1)], "word string, freq long")
    got = bpe_learn(words, 10)
    # 'ab</w>' has 2 pairs -> exactly 2 merges then exhaustion
    assert len(got) == 2


def test_bpe_segment_counts(spark):
    """Segmenting with the learned merges reproduces the reference
    segmentation's symbol counts."""
    from advanced_etl_pipelines_spark.operators.bpe import (
        bpe_learn,
        bpe_segment,
    )

    data = [("low lower newest widest", "x")]
    df = spark.createDataFrame(data, "text string, tag string")
    words = [("low", 1), ("lower", 1), ("newest", 1), ("widest", 1)]
    wdf = spark.createDataFrame(words, "word string, freq long")
    merges = bpe_learn(wdf, 4)

    # reference segmentation: replay merges over each word
    def seg(word):
        syms = list(word) + ["</w>"]
        for _r, a, b, _m, _c in merges:
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            syms = ns
        return syms

    got = {
        tuple(r["symbols"]): r["n_subwords"]
        for r in bpe_segment(df, "text", merges, keep_cols=["tag"]).collect()
    }
    exp = {tuple(seg(w)): len(seg(w)) for w, _ in words}
    assert got == exp
