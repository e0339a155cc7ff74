"""Per-block union-find connected components vs a brute-force oracle
(SURVEY §5.1), and the per-block clustering kernel (components +
refinement) on hand-built match-kernel rows."""

import random

from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
from hgcn_name_disambiguation_spark.operators.clustering import (
    connected_components,
    refine_clusters,
)


def _oracle_components(edges, nodes):
    """Union-find oracle."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # min-id per component
    return {n: find(n) for n in nodes}


def _oracle_blocks(edges):
    """(block_key, src, dst) edges -> {(block_key, node): component},
    each block resolved on its own; self-loop-only nodes are absent."""
    want = {}
    for bk in {e[0] for e in edges}:
        mine = [(u, v) for b, u, v in edges if b == bk and u != v]
        touched = sorted({n for e in mine for n in e})
        for n, c in _oracle_components(mine, touched).items():
            want[(bk, n)] = c
    return want


def _random_block_edges(seed):
    """Chains, a star and random noise in each of 3 blocks that reuse
    the same node ids, plus duplicate edges and self-loops."""
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = []
    for bk in ("blk a", "blk b", "blk c"):
        lo = rng.randrange(0, 20)
        for i in range(lo, lo + 20):
            edges.append((bk, nodes[i], nodes[i + 1]))  # a long chain
        hub = rng.randrange(50, 60)
        for i in range(50, 60):
            edges.append((bk, nodes[hub], nodes[i]))  # star (+ a self-loop)
        for _ in range(40):
            u, v = rng.sample(range(61, 119), 2)
            edges.append((bk, nodes[u], nodes[v]))
        edges.append((bk, nodes[119], nodes[119]))  # self-loop only
        edges.extend(rng.sample(edges[-40:], 5))  # duplicates
    return edges


def _components(spark, edges):
    df = spark.createDataFrame(edges, ["block_key", "src", "dst"])
    return {
        (r.block_key, r.node): r.component
        for r in connected_components(df).collect()
    }


def test_cc_matches_union_find_oracle(spark):
    edges = _random_block_edges(7)
    got = _components(spark, edges)
    assert got == _oracle_blocks(edges)
    # the blocks share node ids but not components
    assert {bk for bk, _ in got} == {"blk a", "blk b", "blk c"}
    assert ("blk a", "n119") not in got


def test_cc_deterministic_under_permutation(spark):
    edges = [
        ("k", "b", "a"), ("k", "c", "b"), ("k", "x", "y"), ("k", "z", "x"),
        ("j", "c", "z"), ("j", "a", "a"), ("s", "q", "q"),
    ]
    r1 = _components(spark, edges)
    r2 = _components(spark, list(reversed(edges)))
    assert r1 == r2
    assert r1[("k", "c")] == "a" and r1[("k", "z")] == "x"
    assert r1[("j", "z")] == "c" and ("j", "a") not in r1
    # a block with only a self-loop yields no rows
    assert not any(bk == "s" for bk, _ in r1)


_FRAME = (
    "block_key string, id_a string, id_b string, score double, "
    "is_weak boolean, sig_cut boolean, in_match boolean, tier string, "
    "sparse boolean, gated boolean"
)


def _cluster(spark, pubs, pairs, traits, config=DEFAULT_CONFIG):
    """Run ``refine_clusters`` on hand-built match-kernel rows: pairs
    (block_key, id_a, id_b, score, is_weak, sig_cut, in_match) and one
    trait row (block_key, tier, sparse, gated) per block ->
    {(block_key, pub_id): cluster_id}."""
    frame = spark.createDataFrame(
        [p + (None, None, None) for p in pairs]
        + [(bk, None, None, None, None, None, None, t, s, g)
           for bk, t, s, g in traits],
        _FRAME,
    )
    members = spark.createDataFrame(pubs, "block_key string, pub_id string")
    out = refine_clusters(members, frame, config)
    return {(r.block_key, r.pub_id): r.cluster_id for r in out.collect()}


def test_refine_merges_chain_within_sparse_blocks_only(spark):
    """One refine round merges a cluster chain A-B-C to the minimum id
    in each sparse block on its own. The blocks share pub and cluster
    ids, so a merge leaking across blocks would relabel b2's {p2,p3} as
    p1. A sig_cut evidence row never counts, and a non-sparse block
    stays untouched however strong its evidence. A = {p1, p2} in b1
    comes from an in_match pair, which is evidence too but inside one
    cluster."""
    pubs = [
        ("b1", "p1"), ("b1", "p2"), ("b1", "p3"), ("b1", "p4"),
        ("b2", "p1"), ("b2", "p2"), ("b2", "p3"),
        ("b3", "p1"), ("b3", "p2"),
    ]
    pairs = [
        ("b1", "p1", "p2", 0.9, False, False, True),  # forms A
        ("b1", "p1", "p3", 0.5, False, False, False),  # A-B
        ("b1", "p3", "p4", 0.5, False, False, False),  # B-C
        ("b2", "p1", "p2", 0.9, False, True, False),  # cut: must not merge
        ("b2", "p2", "p3", 0.5, False, False, False),
        ("b3", "p1", "p2", 0.9, False, False, False),  # dense: not refined
    ]
    traits = [
        ("b1", "rare", True, False),
        ("b2", "rare", True, False),
        ("b3", "rare", False, False),
    ]
    got = _cluster(spark, pubs, pairs, traits)
    assert sorted((bk, p, c) for (bk, p), c in got.items()) == [
        ("b1", "p1", "p1"), ("b1", "p2", "p1"),
        ("b1", "p3", "p1"), ("b1", "p4", "p1"),
        ("b2", "p1", "p1"), ("b2", "p2", "p2"), ("b2", "p3", "p2"),
        ("b3", "p1", "p1"), ("b3", "p2", "p2"),
    ]


def test_refine_recomputes_sizes_and_evidence_each_round(spark):
    """A = {p1, p2}, B = {p3} and C = {p5} in one sparse common-tier
    block (min_edges 2). A-B carries 2 edges, A-C and B-C one each, so
    round 1 merges only A+B; round 2 re-maps the evidence onto AB, whose
    2 edges to C now clear min_edges. One round leaves C apart, and no
    round leaves the components."""
    import dataclasses

    pubs = [("b", "p1"), ("b", "p2"), ("b", "p3"), ("b", "p5")]
    pairs = [
        ("b", "p1", "p2", 0.9, False, False, True),  # forms A
        ("b", "p1", "p3", 0.5, False, False, False),  # A-B
        ("b", "p2", "p3", 0.5, False, False, False),  # A-B
        ("b", "p1", "p5", 0.5, False, False, False),  # A-C
        ("b", "p3", "p5", 0.5, False, False, False),  # B-C
    ]
    traits = [("b", "common", True, False)]

    def run(config):
        got = _cluster(spark, pubs, pairs, traits, config)
        return {p: c for (_, p), c in got.items()}

    assert run(DEFAULT_CONFIG) == {
        "p1": "p1", "p2": "p1", "p3": "p1", "p5": "p1"
    }
    one = dataclasses.replace(DEFAULT_CONFIG, cluster_refine_rounds=1)
    assert run(one) == {"p1": "p1", "p2": "p1", "p3": "p1", "p5": "p5"}
    none = dataclasses.replace(DEFAULT_CONFIG, cluster_refine_rounds=0)
    assert run(none) == {"p1": "p1", "p2": "p1", "p3": "p3", "p5": "p5"}


def test_refine_null_is_weak_counts_only_in_open_blocks(spark):
    """An evidence row with a NULL ``is_weak`` counts in an open sparse
    block and not in a gated one, as ``~(gated & is_weak)`` keeps rows
    in SQL; a pair with ``is_weak`` False counts in both."""
    pubs = [(bk, p) for bk in ("open", "gated", "strong") for p in ("p1", "p2")]
    pairs = [
        ("open", "p1", "p2", 0.5, None, False, False),
        ("gated", "p1", "p2", 0.5, None, False, False),
        ("strong", "p1", "p2", 0.5, False, False, False),
    ]
    traits = [
        ("open", "rare", True, False),
        ("gated", "rare", True, True),
        ("strong", "rare", True, True),
    ]
    got = _cluster(spark, pubs, pairs, traits)
    assert got == {
        ("open", "p1"): "p1", ("open", "p2"): "p1",
        ("gated", "p1"): "p1", ("gated", "p2"): "p2",
        ("strong", "p1"): "p1", ("strong", "p2"): "p1",
    }
