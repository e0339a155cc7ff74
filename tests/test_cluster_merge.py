"""Semantic cluster merge (operators/cluster_merge.py): centroid
cosine merging, focal-signature veto, eligibility gating.

Each pub gets one token of its own whose word-table entry is
(idf 1.0, vec), so the merge kernel's doc vector for it is exactly
vec."""

import numpy as np

from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
from hgcn_name_disambiguation_spark.operators.cluster_merge import (
    semantic_cluster_merge,
)


def _merge_input(clustered, vec_rows, sig_rows):
    """clustered (block_key, pub_id, cluster_id) + (block_key, pub_id,
    vec) and (block_key, pub_id, sig) rows -> (clustered with
    title_toks and sig, word table)."""
    tok = {(b, p): f"t_{b}_{p}" for b, p, _ in vec_rows}
    sigs = {(b, p): s for b, p, s in sig_rows}
    rows = []
    for r in clustered.collect():
        k = (r.block_key, r.pub_id)
        rows.append((*k, r.cluster_id, [tok[k]] if k in tok else [], sigs.get(k)))
    frame = clustered.sparkSession.createDataFrame(
        rows,
        "block_key string, pub_id string, cluster_id string, "
        "title_toks array<string>, sig array<string>",
    )
    words = {tok[(b, p)]: (1.0, np.asarray(v, float)) for b, p, v in vec_rows}
    return frame, words


def _frames(spark, sig_rows=None):
    # block 'b': clusters c1 {p1,p2} and c2 {p3,p4} share a topic
    # direction; cluster c3 {p5} points elsewhere.
    clustered = spark.createDataFrame(
        [
            ("b", "p1", "c1"), ("b", "p2", "c1"),
            ("b", "p3", "c2"), ("b", "p4", "c2"),
            ("b", "p5", "c3"),
        ],
        ["block_key", "pub_id", "cluster_id"],
    )
    doc_vecs = [
        ("b", "p1", [1.0, 0.1]), ("b", "p2", [0.9, 0.0]),
        ("b", "p3", [1.0, 0.0]), ("b", "p4", [0.8, 0.1]),
        ("b", "p5", [0.0, 1.0]),
    ]
    sigs = sig_rows or [("b", p, None) for p in ["p1", "p2", "p3", "p4", "p5"]]
    return clustered, doc_vecs, sigs


def _merge(clustered, doc_vecs, sigs, eligible, config=DEFAULT_CONFIG):
    frame, words = _merge_input(clustered, doc_vecs, sigs)
    return _clusters(semantic_cluster_merge(frame, words, eligible, config))


def _clusters(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.cluster_id, set()).add(r.pub_id)
    return {frozenset(v) for v in out.values()}


def test_merge_by_centroid_cosine(spark):
    clustered, doc_vecs, sigs = _frames(spark)
    eligible = spark.createDataFrame([("b", 0.8)], ["block_key", "theta"])
    got = _merge(clustered, doc_vecs, sigs, eligible)
    # c1+c2 merge (centroid cos ~0.999 >= 0.8); c3 stays (cos ~0.07)
    assert frozenset({"p1", "p2", "p3", "p4"}) in got
    assert frozenset({"p5"}) in got


def test_merge_vetoed_by_incompatible_sigs(spark):
    sig_rows = [
        ("b", "p1", ["john", "a"]), ("b", "p2", None),
        ("b", "p3", ["john", "w"]), ("b", "p4", None),
        ("b", "p5", None),
    ]
    clustered, doc_vecs, sigs = _frames(spark, sig_rows)
    eligible = spark.createDataFrame([("b", 0.8)], ["block_key", "theta"])
    got = _merge(clustered, doc_vecs, sigs, eligible)
    # same centroids, but 'john a' vs 'john w' vetoes the merge
    assert frozenset({"p1", "p2"}) in got
    assert frozenset({"p3", "p4"}) in got


def test_veto_holds_transitively_through_sigless_bridge(spark):
    """Round-5 ADVICE fix: 'john a' must not reach 'john w' through an
    intermediate cluster with no signatures. Pairwise-veto + plain
    transitive closure would merge all three (A-B and B-C edges pass;
    the vetoed A-C edge is irrelevant to closure); the greedy
    union-find checks ACCUMULATED component signatures at union time,
    so after A absorbs B the B-C union is rejected."""
    clustered = spark.createDataFrame(
        [("b", "p1", "c1"), ("b", "p2", "c2"), ("b", "p3", "c3")],
        ["block_key", "pub_id", "cluster_id"],
    )
    # all three centroid pairs clear theta; cos(c1,c2) is the largest,
    # so greedy processes A-B first
    doc_vecs = [
        ("b", "p1", [1.0, 0.0]), ("b", "p2", [0.99, 0.02]),
        ("b", "p3", [0.9, 0.1])
    ]
    sigs = [
        ("b", "p1", ["john", "a"]), ("b", "p2", None),
        ("b", "p3", ["john", "w"])
    ]
    eligible = spark.createDataFrame([("b", 0.8)], ["block_key", "theta"])
    got = _merge(clustered, doc_vecs, sigs, eligible)
    assert frozenset({"p1", "p2"}) in got
    assert frozenset({"p3"}) in got


def test_ineligible_block_untouched(spark):
    clustered, doc_vecs, sigs = _frames(spark)
    eligible = spark.createDataFrame(
        [("other", 0.8)], ["block_key", "theta"]
    )
    got = _merge(clustered, doc_vecs, sigs, eligible)
    assert frozenset({"p1", "p2"}) in got and frozenset({"p3", "p4"}) in got


def test_compatible_sigs_do_not_veto(spark):
    sig_rows = [
        ("b", "p1", ["john", "a"]), ("b", "p2", None),
        ("b", "p3", ["j"]), ("b", "p4", None),  # initial-compatible
        ("b", "p5", None),
    ]
    clustered, doc_vecs, sigs = _frames(spark, sig_rows)
    eligible = spark.createDataFrame([("b", 0.8)], ["block_key", "theta"])
    got = _merge(clustered, doc_vecs, sigs, eligible)
    assert frozenset({"p1", "p2", "p3", "p4"}) in got


def test_pipeline_gate_rich_corpus_skips_fit(spark, monkeypatch):
    """_semantic_merge_stage: when no block is sparse (evidence-rich
    corpus), the stage returns the input unchanged WITHOUT training
    word vectors (the fit is the expensive part — the gate must keep
    rich corpora zero-cost)."""
    import types

    from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
    from hgcn_name_disambiguation_spark.plans import pipeline as P

    clustered = spark.createDataFrame(
        [("b", "p1", "c1")], ["block_key", "pub_id", "cluster_id"]
    )
    traits = spark.createDataFrame(
        [("b", "rare", False, False)],
        ["block_key", "tier", "sparse", "gated"],
    )
    ctx = types.SimpleNamespace(traits=traits)

    def boom(*a, **k):
        raise AssertionError("w2v fit must not run for rich corpora")

    import hgcn_name_disambiguation_spark.operators.semantic as sem
    monkeypatch.setattr(sem, "semantic_word_table", boom)
    out = P._semantic_merge_stage(None, clustered, ctx, DEFAULT_CONFIG)
    assert out is clustered


def test_pipeline_gate_sparse_block_merges(spark, monkeypatch):
    """Sparse rare-tier block -> the stage runs: word table fetched,
    focal sigs computed from ``clustered``'s authors, same-topic
    clusters merged end-to-end through the real merge operator, and
    ``clustered``'s columns kept as they were. The word table is
    patched to a fixed one — a Word2Vec fit on a 3-doc corpus is noise,
    and the fit itself is covered by test_semantic; THIS test pins the
    gate + wiring."""
    import types

    import numpy as np

    from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
    from hgcn_name_disambiguation_spark.plans import pipeline as P

    rows = [
        ("jane roe", "p1", "t a", ["Jane Roe", "A One"], "VLDB", ["ta"]),
        ("jane roe", "p2", "t b", ["Jane Roe", "B Two"], "ICDE", ["tb"]),
        ("jane roe", "p3", "t c", ["Jane Roe", "C Three"], "ISMB", ["tc"]),
    ]
    cols = ["block_key", "pub_id", "title", "authors", "venue", "title_toks"]
    pubs = spark.createDataFrame(rows, cols)
    clustered = spark.createDataFrame(
        [r + (c,) for r, c in zip(rows, ["c1", "c2", "c3"])],
        cols + ["cluster_id"],
    )
    traits = spark.createDataFrame(
        [("jane roe", "rare", True, False)],
        ["block_key", "tier", "sparse", "gated"],
    )
    ctx = types.SimpleNamespace(traits=traits)
    table = {
        "ta": (1.0, np.array([1.0, 0.0])),
        "tb": (1.0, np.array([0.95, 0.05])),
        "tc": (1.0, np.array([0.0, 1.0])),
    }
    import hgcn_name_disambiguation_spark.operators.semantic as sem
    monkeypatch.setattr(sem, "semantic_word_table", lambda *a, **k: table)
    out = P._semantic_merge_stage(pubs, clustered, ctx, DEFAULT_CONFIG)
    assert sorted(out.columns) == sorted(clustered.columns)
    got = {}
    for r in out.collect():
        got.setdefault(r.cluster_id, set()).add(r.pub_id)
    clusters = {frozenset(v) for v in got.values()}
    # p1/p2 share a topic direction -> merged; p3 (different topic) alone
    assert frozenset({"p1", "p2"}) in clusters
    assert frozenset({"p3"}) in clusters


def _eligible(spark, rows):
    return spark.createDataFrame(
        rows, "block_key string, theta double, mfloor double, maxdoc_theta double"
    )


def test_mutual_margin_merges_below_theta(spark):
    """Round-5 mutual rule in isolation (theta + maxdoc off): c1/c2
    are each other's top-1 with a wide margin over their second-best
    (c3 is orthogonal), so they merge even though no flat theta is
    live."""
    clustered = spark.createDataFrame(
        [("b", "p1", "c1"), ("b", "p2", "c1"),
         ("b", "p3", "c2"), ("b", "p4", "c2"),
         ("b", "p5", "c3"), ("b", "p6", "c3")],
        ["block_key", "pub_id", "cluster_id"],
    )
    doc_vecs = [
        ("b", "p1", [1.0, 0.0, 0.0]), ("b", "p2", [1.0, 0.0, 0.0]),
        ("b", "p3", [0.95, 0.312, 0.0]), ("b", "p4", [0.95, 0.312, 0.0]),
        ("b", "p5", [0.0, 0.0, 1.0]), ("b", "p6", [0.0, 0.0, 1.0])
    ]
    sigs = [("b", p, None) for p in ["p1", "p2", "p3", "p4", "p5", "p6"]]
    eligible = _eligible(spark, [("b", 2.0, 0.55, 2.0)])
    got = _merge(clustered, doc_vecs, sigs, eligible)
    assert frozenset({"p1", "p2", "p3", "p4"}) in got
    assert frozenset({"p5", "p6"}) in got


def test_mutual_singleton_needs_larger_margin(spark):
    """A mutual pair involving a singleton cluster needs the stricter
    semantic_merge_mutual_margin_singleton (0.30): margin 0.20 is
    vetoed (block b1), margin 0.50 merges (block b2)."""
    clustered = spark.createDataFrame(
        [("b1", "p1", "c1"), ("b1", "p2", "c1"), ("b1", "p3", "c2"),
         ("b1", "p4", "c3"), ("b1", "p5", "c3"),
         ("b2", "q1", "d1"), ("b2", "q2", "d1"), ("b2", "q3", "d2"),
         ("b2", "q4", "d3"), ("b2", "q5", "d3")],
        ["block_key", "pub_id", "cluster_id"],
    )
    doc_vecs = [
        # b1: cos(c1,c2)=.8, cos(c1,c3)=.6, cos(c2,c3)=.48
        # -> mutual margin .8-.6=.2 < .30 and c2 is a singleton
        ("b1", "p1", [1.0, 0.0, 0.0]), ("b1", "p2", [1.0, 0.0, 0.0]),
        ("b1", "p3", [0.8, 0.6, 0.0]),
        ("b1", "p4", [0.6, 0.0, 0.8]), ("b1", "p5", [0.6, 0.0, 0.8]),
        # b2: cos(d1,d2)=.8, cos(d1,d3)=.3, cos(d2,d3)=.24
        # -> margin .8-.3=.5 >= .30 -> singleton d2 merges
        ("b2", "q1", [1.0, 0.0, 0.0]), ("b2", "q2", [1.0, 0.0, 0.0]),
        ("b2", "q3", [0.8, 0.6, 0.0]),
        ("b2", "q4", [0.3, 0.0, 0.954]), ("b2", "q5", [0.3, 0.0, 0.954]),
    ]
    sigs = [("b1", p, None) for p in ["p1", "p2", "p3", "p4", "p5"]] + (
        [("b2", q, None) for q in ["q1", "q2", "q3", "q4", "q5"]]
    )
    eligible = _eligible(
        spark, [("b1", 2.0, 0.55, 2.0), ("b2", 2.0, 0.55, 2.0)]
    )
    got = _merge(clustered, doc_vecs, sigs, eligible)
    assert frozenset({"p1", "p2"}) in got          # b1: vetoed
    assert frozenset({"p3"}) in got
    assert frozenset({"q1", "q2", "q3"}) in got    # b2: merged


def test_maxdoc_rescues_blurred_centroids(spark):
    """Round-5 maxdoc rule: the centroid cosine sits below theta
    (0.916 < 0.95) because c1 spans two topics, but one member pair
    (p1, p3) is near-identical (cos 0.9988 >= 0.92), so the clusters
    merge; c3 stays below the maxdoc floor window entirely."""
    clustered = spark.createDataFrame(
        [("b", "p1", "c1"), ("b", "p2", "c1"),
         ("b", "p3", "c2"), ("b", "p4", "c3")],
        ["block_key", "pub_id", "cluster_id"],
    )
    doc_vecs = [
        ("b", "p1", [1.0, 0.0]), ("b", "p2", [0.6, 0.8]),
        ("b", "p3", [1.0, 0.05]), ("b", "p4", [0.0, 1.0])
    ]
    sigs = [("b", p, None) for p in ["p1", "p2", "p3", "p4"]]
    eligible = _eligible(spark, [("b", 0.95, 2.0, 0.92)])
    got = _merge(clustered, doc_vecs, sigs, eligible)
    assert frozenset({"p1", "p2", "p3"}) in got
    assert frozenset({"p4"}) in got


def test_second_round_reaches_fixpoint(spark):
    """semantic_merge_rounds: round 1 merges the mutual pair c1/c2
    (c3's top-1 is c2, not mutual); with only two clusters left, round
    2 makes c12/c3 trivially mutual (no second-best) and cos >= floor,
    so everything converges — while rounds=1 leaves c3 unmerged."""
    import dataclasses

    from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG

    clustered = spark.createDataFrame(
        [("b", "p1", "c1"), ("b", "p2", "c1"),
         ("b", "p3", "c2"), ("b", "p4", "c2"),
         ("b", "p5", "c3"), ("b", "p6", "c3")],
        ["block_key", "pub_id", "cluster_id"],
    )
    # cos(c1,c2)=.95, cos(c1,c3)=.6, cos(c2,c3)=.65
    doc_vecs = [
        ("b", "p1", [1.0, 0.0, 0.0]), ("b", "p2", [1.0, 0.0, 0.0]),
        ("b", "p3", [0.95, 0.312, 0.0]), ("b", "p4", [0.95, 0.312, 0.0]),
        ("b", "p5", [0.6, 0.2564, 0.7578]),
        ("b", "p6", [0.6, 0.2564, 0.7578])
    ]
    sigs = [("b", p, None) for p in ["p1", "p2", "p3", "p4", "p5", "p6"]]
    eligible = _eligible(spark, [("b", 2.0, 0.55, 2.0)])
    got = _merge(clustered, doc_vecs, sigs, eligible)
    assert frozenset({"p1", "p2", "p3", "p4", "p5", "p6"}) in got

    one_round = dataclasses.replace(DEFAULT_CONFIG, semantic_merge_rounds=1)
    got1 = _merge(clustered, doc_vecs, sigs, eligible, one_round)
    assert frozenset({"p1", "p2", "p3", "p4"}) in got1
    assert frozenset({"p5", "p6"}) in got1


def test_max_clusters_cap_skips_crowded_blocks(spark):
    """semantic_merge_max_clusters bounds the per-block cluster count:
    with a cap of 2, block 'big' (3 clusters) keeps its clusters even
    though c1/c2 clear theta, while block 'small' (2 clusters) in the
    same call merges."""
    import dataclasses

    from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG

    clustered = spark.createDataFrame(
        [("big", "p1", "c1"), ("big", "p2", "c2"), ("big", "p3", "c3"),
         ("small", "q1", "d1"), ("small", "q2", "d2")],
        ["block_key", "pub_id", "cluster_id"],
    )
    doc_vecs = [
        ("big", "p1", [1.0, 0.0]), ("big", "p2", [0.99, 0.05]),
        ("big", "p3", [0.0, 1.0]),
        ("small", "q1", [1.0, 0.0]), ("small", "q2", [0.99, 0.05])
    ]
    sigs = [("big", p, None) for p in ["p1", "p2", "p3"]] + (
        [("small", q, None) for q in ["q1", "q2"]]
    )
    eligible = spark.createDataFrame(
        [("big", 0.8), ("small", 0.8)], ["block_key", "theta"]
    )
    capped = dataclasses.replace(
        DEFAULT_CONFIG, semantic_merge_max_clusters=2
    )
    got = _merge(clustered, doc_vecs, sigs, eligible, capped)
    assert {frozenset({"p1"}), frozenset({"p2"}), frozenset({"p3"})} <= got
    assert frozenset({"q1", "q2"}) in got
    # without the cap the crowded block merges too
    got = _merge(clustered, doc_vecs, sigs, eligible)
    assert frozenset({"p1", "p2"}) in got
