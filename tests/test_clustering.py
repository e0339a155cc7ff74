"""Per-block union-find connected components vs a brute-force oracle
(SURVEY §5.1), and cluster refinement on hand-built blocks."""

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


def test_refine_merges_chain_within_sparse_blocks_only(spark):
    """One refine round merges a cluster chain A-B-C to the minimum id
    in each sparse block on its own. The blocks share cluster ids, so a
    merge leaking across blocks would relabel b2's {c2,c3} as c1. A
    sig_cut evidence row never counts, and a non-sparse block stays
    untouched however strong its evidence."""
    clustered = spark.createDataFrame(
        [
            ("b1", "p1", "c1"), ("b1", "p2", "c1"),
            ("b1", "p3", "c2"), ("b1", "p4", "c3"),
            ("b2", "p1", "c1"), ("b2", "p2", "c2"), ("b2", "p3", "c3"),
            ("b3", "p1", "c1"), ("b3", "p2", "c2"),
        ],
        ["block_key", "pub_id", "cluster_id"],
    )
    scored = spark.createDataFrame(
        [
            ("b1", "p1", "p3", 0.5, False),  # c1-c2
            ("b1", "p3", "p4", 0.5, False),  # c2-c3
            ("b2", "p1", "p2", 0.9, True),  # c1-c2, cut: must not merge
            ("b2", "p2", "p3", 0.5, False),  # c2-c3
            ("b3", "p1", "p2", 0.9, False),  # dense block: not refined
        ],
        "block_key string, id_a string, id_b string, score double, "
        "sig_cut boolean",
    )
    traits = spark.createDataFrame(
        [
            ("b1", "rare", False, True),
            ("b2", "rare", False, True),
            ("b3", "rare", False, False),
        ],
        "block_key string, tier string, gated boolean, sparse boolean",
    )
    out = refine_clusters(clustered, scored, DEFAULT_CONFIG, traits=traits)
    got = sorted((r.block_key, r.pub_id, r.cluster_id) for r in out.collect())
    assert got == [
        ("b1", "p1", "c1"), ("b1", "p2", "c1"),
        ("b1", "p3", "c1"), ("b1", "p4", "c1"),
        ("b2", "p1", "c1"), ("b2", "p2", "c2"), ("b2", "p3", "c2"),
        ("b3", "p1", "c1"), ("b3", "p2", "c2"),
    ]


def test_refine_recomputes_sizes_and_evidence_each_round(spark):
    """A = {p1, p2}, B = {p3} and C = {p5} in one sparse common-tier
    block (min_edges 2). A-B carries 2 edges, A-C and B-C one each, so
    round 1 merges only A+B; round 2 re-maps the evidence onto AB, whose
    2 edges to C now clear min_edges. One round leaves C apart."""
    import dataclasses

    clustered = spark.createDataFrame(
        [("b", "p1", "p1"), ("b", "p2", "p1"), ("b", "p3", "p3"),
         ("b", "p5", "p5")],
        ["block_key", "pub_id", "cluster_id"],
    )
    scored = spark.createDataFrame(
        [
            ("b", "p1", "p3", 0.5, False),  # A-B
            ("b", "p2", "p3", 0.5, False),  # A-B
            ("b", "p1", "p5", 0.5, False),  # A-C
            ("b", "p3", "p5", 0.5, False),  # B-C
        ],
        "block_key string, id_a string, id_b string, score double, "
        "sig_cut boolean",
    )
    traits = spark.createDataFrame(
        [("b", "common", False, True)],
        "block_key string, tier string, gated boolean, sparse boolean",
    )

    def run(config):
        out = refine_clusters(clustered, scored, config, traits=traits)
        return {r.pub_id: r.cluster_id for r in out.collect()}

    assert run(DEFAULT_CONFIG) == {
        "p1": "p1", "p2": "p1", "p3": "p1", "p5": "p1"
    }
    one = dataclasses.replace(DEFAULT_CONFIG, cluster_refine_rounds=1)
    assert run(one) == {"p1": "p1", "p2": "p1", "p3": "p1", "p5": "p5"}
