"""M3 — transitive clustering and cluster refinement, one per-block
kernel (SURVEY §2.9 G7, G8).

The reference clusters each name block on its own: connected
components of a dense matrix (``scipy.sparse.csgraph``), then GHAC
(``name_disambiguation.py:83-92,604-637``). Blocking makes every
component block-local, so here ``refine_clusters`` sends each block's
match-kernel rows and its members to one grouped pandas kernel
(``cogroup(...).applyInPandas``): one union-find over the block's
match edges, then all of its refine rounds in the same worker. One
shuffle and one join back to the pubs, whatever the component diameter
or round count. A block is one Python worker's input: a union-find over
the generator's skewed mega-block (10,560 pubs, 519k edges) resolves in
0.6–0.8 s on one core of a 4-vCPU Xeon host.

The component id is the lexicographic MIN node id of the component
(== min pub id), giving stable deterministic cluster ids (SURVEY W2
note); refinement names each merged group by its minimum cluster id.
``connected_components`` is the same union-find over a bare edge list.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG


def _min_roots(pairs) -> dict[str, str]:
    """Union-find over (u, v) pairs -> {node: component} for every node
    of a non-self-loop pair. A root is always linked under the smaller
    root, so every root is its component's minimum node."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        if u == v:
            continue
        for n in (u, v):
            parent.setdefault(n, n)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _union_find(edges: pd.DataFrame) -> pd.DataFrame:
    """One block's edges (block_key, src, dst) -> (block_key, node,
    component) for every node of a non-self-loop edge."""
    roots = _min_roots(zip(edges["src"], edges["dst"]))
    return pd.DataFrame(
        {
            "block_key": [edges["block_key"].iloc[0]] * len(roots),
            "node": list(roots),
            "component": list(roots.values()),
        }
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(block_key, src, dst) -> (block_key, node, component) for
    every node of a non-self-loop edge; component = min node id of the
    node's component within its block.

    Isolated nodes don't appear; ``refine_clusters`` gives unmatched
    pubs their own id.
    """
    return (
        edges.select("block_key", "src", "dst")
        .groupBy("block_key")
        .applyInPandas(
            _union_find, schema="block_key string, node string, component string"
        )
    )


# perfbench/trace.py resolves this name on every traced run; the
# two-phase contraction it named is gone (one union-find over all
# matches gives the same partition), so it stays bound until the
# benchmark's layer table drops it.
two_phase_components = connected_components


def _values(frame: pd.DataFrame, col: str) -> list:
    """A scalar column as Python values, SQL nulls as None (Arrow hands
    null doubles to pandas as NaN)."""
    return [None if v is None or v != v else v for v in frame[col].tolist()]


def _refine_rounds(
    cid: dict[str, str],
    edges: list[tuple[str, str, float]],
    tau: float,
    me: int,
    rounds: int,
) -> dict[str, str]:
    """Refine rounds over one block: {pub: cluster} and evidence edges
    (a, b, score) -> the coarsened {pub: cluster}.

    Each round maps pubs to clusters, sums the scores and counts the
    edges of every cluster pair, and accepts the pairs whose
    sum / min(|A|, |B|) reaches ``tau`` on at least ``me`` edges (sizes
    count every pub of ``cid``; edges to other ids never count).
    Accepted pairs merge transitively to the minimum cluster id; the
    next round sees the merged clusters, and a round that merges
    nothing ends the loop."""
    for _ in range(rounds):
        sizes = Counter(cid.values())
        s: dict[tuple[str, str], float] = {}
        n: Counter = Counter()
        for a, b, score in edges:
            ca, cb = cid.get(a), cid.get(b)
            if ca is None or cb is None or ca == cb:
                continue
            key = (ca, cb) if ca < cb else (cb, ca)
            s[key] = s.get(key, 0.0) + score
            n[key] += 1
        merges = [
            (ca, cb)
            for (ca, cb), total in s.items()
            if n[(ca, cb)] >= me and total / min(sizes[ca], sizes[cb]) >= tau
        ]
        if not merges:
            break
        roots = _min_roots(merges)
        cid = {p: roots.get(c, c) for p, c in cid.items()}
    return cid


def _cluster_block(
    rows: pd.DataFrame, members: pd.DataFrame, config: PipelineConfig
) -> pd.DataFrame:
    """One block's clustering (cogroup kernel): its match-kernel rows
    (block_key, id_a, id_b, score, is_weak, in_match, evidence, tier,
    sparse, gated) and members (block_key, pub_id) -> (block_key,
    pub_id, cluster_id) per member. ``in_match`` pairs union to their
    component's min id. A sparse block (per its trait row, the one with
    a null ``id_a``) then refines over its ``evidence`` pairs; in a
    gated block only ``is_weak`` False pairs count, as SQL's
    ``~(gated & is_weak)`` keeps them. Sorted edges make the score sums
    independent of the shuffle's row order."""
    pubs = list(dict.fromkeys(members["pub_id"]))
    if not pubs:
        return pd.DataFrame(columns=["block_key", "pub_id", "cluster_id"])
    ida, idb = rows["id_a"].tolist(), rows["id_b"].tolist()
    in_match = _values(rows, "in_match")
    roots = _min_roots(
        (ida[i], idb[i]) for i in range(len(ida)) if in_match[i] is True
    )
    cid = {p: roots.get(p, p) for p in pubs}
    trait = next((i for i, a in enumerate(ida) if a is None), None)
    if trait is not None and _values(rows, "sparse")[trait] is True:
        tier = rows["tier"].iloc[trait]
        is_open = _values(rows, "gated")[trait] is False
        weak, ev = _values(rows, "is_weak"), _values(rows, "evidence")
        score = rows["score"].tolist()
        edges = sorted(
            (ida[i], idb[i], score[i])
            for i in range(len(ida))
            if ida[i] is not None
            and ev[i] is True
            and (is_open or weak[i] is False)
        )
        tau, me = {
            "rare": (config.refine_tau_rare, config.refine_min_edges_rare),
            "common": (
                config.refine_tau_common, config.refine_min_edges_common
            ),
        }.get(tier, (config.refine_tau_amb, config.refine_min_edges_amb))
        cid = _refine_rounds(cid, edges, tau, me, config.cluster_refine_rounds)
    return pd.DataFrame(
        {
            "block_key": [members["block_key"].iloc[0]] * len(cid),
            "pub_id": list(cid),
            "cluster_id": list(cid.values()),
        }
    )


# named for its refine rounds, though it also resolves the components:
# perfbench's reaches_cluster_merge check counts calls to this name
def refine_clusters(
    pubs: DataFrame,
    matched: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """pubs + the match kernel's rows (``plans.pipeline.MatchContext.frame``:
    flagged pairs plus one trait row per block) -> pubs with
    ``cluster_id``. The analogue of the reference's per-block connected
    components then average-linkage GHAC (G7, G8,
    ``name_disambiguation.py:83-92,604-637``), one cogroup kernel per
    block (``_cluster_block``), one join back to ``pubs``.

    Components: cluster_id = min pub_id of the pub's component of
    ``in_match`` pairs; unmatched pubs are singletons of themselves —
    the reference's P7 short-circuit
    (``name_disambiguation.py:857-860,991-994``).

    Refinement (measured on the reference's 110 labeled AMiner blocks):
    one weak pair edge is unreliable (single-coauthor-only pairs are 54%
    true), but MANY between two clusters are collectively strong. So
    ALL scored pairs, sub-threshold ones included, merge cluster pairs
    whose affinity = sum(pair scores) / min(|A|, |B|) clears the tier's
    ``refine_tau_*`` on ``refine_min_edges_*`` edges, for up to
    ``cluster_refine_rounds`` rounds (0 keeps the components). The min
    keeps a mega-cluster from swallowing a small one on volume, but the
    statistic still grows with evidence density, hence the gates:
    - only evidence-SPARSE blocks refine (dense corpora's sub-threshold
      pairs are true negatives: fixture P 1.0 -> 0.48 without this);
    - ``is_weak`` pairs don't count in gated blocks;
    - ``sig_cut`` pairs (name-constraint contradiction) never count.
    The row-local gates are one JVM boolean, ``evidence``; the kernel
    reads the block-level ones from the trait row.
    """
    counts = ~F.col("sig_cut")
    if {"w_title", "title_cos", "w_coauthor", "w_venue", "w_org"} <= set(
        matched.columns
    ):
        # pairs whose ONLY evidence is a single shared title token sit
        # below the reference's own co-title bound (min_title_overlap,
        # name_disambiguation.py:971-973); aggregating hundreds of them
        # fakes cluster affinity (measured −1.3 macro F1 on the labeled
        # corpus when admitted) — drop them from the evidence pool.
        counts = counts & ~(
            (F.col("w_title") <= 0)
            & (F.col("title_cos") > 0)
            & (F.col("w_coauthor") <= 0)
            & (F.col("w_venue") <= 0)
            & (F.col("w_org") <= 0)
        )
    rows = matched.select(
        "block_key", "id_a", "id_b", "score", "is_weak", "in_match",
        F.coalesce(counts, F.lit(False)).alias("evidence"),
        "tier", "sparse", "gated",
    )
    ids = (
        rows.groupBy("block_key")
        .cogroup(pubs.select("block_key", "pub_id").groupBy("block_key"))
        .applyInPandas(
            lambda r, m: _cluster_block(r, m, config),
            schema="block_key string, pub_id string, cluster_id string",
        )
    )
    return pubs.join(ids, ["block_key", "pub_id"], "left").select(
        *pubs.columns, F.coalesce("cluster_id", "pub_id").alias("cluster_id")
    )
