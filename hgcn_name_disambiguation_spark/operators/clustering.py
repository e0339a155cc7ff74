"""M3 — transitive clustering via per-block union-find connected
components (SURVEY §2.9 G7).

The reference calls ``scipy.sparse.csgraph.connected_components`` on a
dense matrix per name block (``name_disambiguation.py:83,87,604-605``).
Blocking makes every component block-local, so here the edges are
grouped by ``block_key`` and each block is resolved by one union-find
in a grouped-map pandas kernel (``groupBy("block_key").applyInPandas``):
one shuffle and one pass over the block's edges, whatever the
component diameter. A block is one Python worker's input: a group the
size of the generator's skewed mega-block (10,560 pubs, 519k edges)
resolves in 0.6–0.8 s on one core of a 4-vCPU Xeon host.

The component id is the lexicographic MIN node id of the component
(== min pub id), giving stable deterministic cluster ids (SURVEY W2
note).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG


def _union_find(edges: pd.DataFrame) -> pd.DataFrame:
    """One block's edges (block_key, src, dst) -> (block_key, node,
    component) for every node of a non-self-loop edge. A root is always
    linked under the smaller root, so every root is its component's
    minimum node."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(edges["src"], edges["dst"]):
        if u == v:
            continue
        for n in (u, v):
            parent.setdefault(n, n)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    return pd.DataFrame(
        {
            "block_key": [edges["block_key"].iloc[0]] * len(nodes),
            "node": nodes,
            "component": [find(n) for n in nodes],
        }
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(block_key, src, dst) -> (block_key, node, component) for
    every node of a non-self-loop edge; component = min node id of the
    node's component within its block.

    Isolated nodes don't appear (caller unions singletons back — see
    assign_clusters).
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


def refine_clusters(
    clustered: DataFrame,
    scored: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    traits: DataFrame | None = None,
) -> DataFrame:
    """Cluster-level agglomeration — the distributed analogue of the
    reference's per-block average-linkage GHAC stage (G8,
    ``name_disambiguation.py:90-92,633-637``), run AFTER the
    pair-threshold CC pass.

    Rationale (measured on the reference's 110 labeled AMiner blocks):
    a single weak pair edge is unreliable (single-coauthor-only pairs
    are 54% true), but MANY weak edges between the same two clusters
    are collectively strong. So: aggregate ALL scored pair evidence
    (including sub-threshold pairs) across each cluster pair,
    average-linkage-normalize, and merge cluster pairs whose affinity
    clears ``cluster_merge_tau``; merging is one more (tiny) CC run on
    the cluster graph, so chains merge transitively within the round.

      affinity(A, B) = sum(pair scores between A and B)
                       / min(|A|, |B|)

    min-normalization = "per member of the smaller cluster, how much
    aggregate evidence points across" — a mega-cluster cannot swallow a
    small one on volume alone. CAVEAT: the statistic still grows with
    EVIDENCE DENSITY, not just match probability, so
    ``cluster_merge_tau`` is corpus-dependent — 0.10 is the measured
    peak on the sparse AMiner corpus but over-merges the dense
    synthetic fixtures badly; hence rounds defaults to 0 (see config).
    ``cluster_merge_min_edges`` adds a corroboration floor. Everything
    is hash aggregation on (block, cluster_a, cluster_b) — bounded by
    the scored-pair count, never n^2 in cluster sizes. Repeats
    ``config.cluster_refine_rounds`` times (sizes/affinities recomputed
    each round); new cluster id = min member cluster id, preserving the
    min-pub-id convention.

    With ``traits`` (block_key, tier, gated, sparse — see
    plans.pipeline.build_match_context), refinement is auto-calibrated
    (round 3, the density-aware defaults that let rounds default on):
    - only evidence-SPARSE blocks participate (richness gate; dense
      corpora's sub-threshold pairs are true negatives — measured
      fixture collapse P 1.0 -> 0.48 without this),
    - merge thresholds are per ambiguity tier
      (config.refine_tau_* / refine_min_edges_*),
    - evidence rows flagged ``sig_cut`` (name-constraint contradiction)
      never count, and ``is_weak`` rows don't count in gated blocks.
    Without traits the legacy single-threshold knobs apply
    (cluster_merge_tau / cluster_merge_min_edges) over raw scores.
    """
    if config.cluster_refine_rounds <= 0:
        return clustered
    e = scored
    if "sig_cut" in e.columns:
        e = e.where(~F.col("sig_cut"))
    if {"w_title", "title_cos", "w_coauthor", "w_venue", "w_org"} <= set(
        e.columns
    ):
        # pairs whose ONLY evidence is a single shared title token sit
        # below the reference's own co-title bound (min_title_overlap,
        # name_disambiguation.py:971-973); aggregating hundreds of them
        # fakes cluster affinity (measured −1.3 macro F1 on the labeled
        # corpus when admitted) — drop them from the evidence pool.
        e = e.where(
            ~(
                (F.col("w_title") <= 0)
                & (F.col("title_cos") > 0)
                & (F.col("w_coauthor") <= 0)
                & (F.col("w_venue") <= 0)
                & (F.col("w_org") <= 0)
            )
        )
    if traits is not None:
        tr = traits.select("block_key", "tier", "gated", "sparse")
        e = e.join(tr, "block_key", "inner").where(F.col("sparse"))
        if "is_weak" in e.columns:
            e = e.where(~(F.col("gated") & F.col("is_weak")))
        tau_col = (
            F.when(F.col("tier") == "rare", F.lit(config.refine_tau_rare))
            .when(F.col("tier") == "common", F.lit(config.refine_tau_common))
            .otherwise(F.lit(config.refine_tau_amb))
        )
        me_col = (
            F.when(
                F.col("tier") == "rare",
                F.lit(config.refine_min_edges_rare),
            )
            .when(
                F.col("tier") == "common",
                F.lit(config.refine_min_edges_common),
            )
            .otherwise(F.lit(config.refine_min_edges_amb))
        )
        e = e.select(
            "block_key", "id_a", "id_b", "score",
            tau_col.alias("_tau"), me_col.alias("_me"),
        )
    else:
        e = e.select(
            "block_key", "id_a", "id_b", "score",
            F.lit(config.cluster_merge_tau).alias("_tau"),
            F.lit(config.cluster_merge_min_edges).alias("_me"),
        )
    # The evidence frame is re-joined EVERY round — materialize it once
    # so each round costs one join+agg, not a re-execution of the whole
    # scoring subtree (plan depth was the round-2 OOM risk).
    e = e.localCheckpoint(eager=True)
    out = clustered.localCheckpoint(eager=True)
    for _ in range(config.cluster_refine_rounds):
        cmap = out.select("block_key", "pub_id", "cluster_id")
        ea = cmap.select(
            "block_key",
            F.col("pub_id").alias("id_a"),
            F.col("cluster_id").alias("ca"),
        )
        eb = cmap.select(
            "block_key",
            F.col("pub_id").alias("id_b"),
            F.col("cluster_id").alias("cb"),
        )
        cross = (
            e.join(ea, ["block_key", "id_a"])
            .join(eb, ["block_key", "id_b"])
            .where(F.col("ca") != F.col("cb"))
            .select(
                "block_key",
                F.least("ca", "cb").alias("ca"),
                F.greatest("ca", "cb").alias("cb"),
                "score",
                "_tau",
                "_me",
            )
        )
        sizes = out.groupBy("block_key", "cluster_id").agg(
            F.count(F.lit(1)).alias("sz")
        )
        agg = cross.groupBy("block_key", "ca", "cb").agg(
            F.sum("score").alias("s"),
            F.count(F.lit(1)).alias("n_edges"),
            F.first("_tau").alias("_tau"),
            F.first("_me").alias("_me"),
        )
        agg = (
            agg.join(
                sizes.select(
                    "block_key",
                    F.col("cluster_id").alias("ca"),
                    F.col("sz").alias("na"),
                ),
                ["block_key", "ca"],
            )
            .join(
                sizes.select(
                    "block_key",
                    F.col("cluster_id").alias("cb"),
                    F.col("sz").alias("nb"),
                ),
                ["block_key", "cb"],
            )
            .withColumn(
                "affinity", F.col("s") / F.least("na", "nb")
            )
        )
        merges = agg.where(
            (F.col("affinity") >= F.col("_tau"))
            & (F.col("n_edges") >= F.col("_me"))
        )
        if merges.isEmpty():
            break
        comp = connected_components(
            merges.select(
                "block_key", F.col("ca").alias("src"), F.col("cb").alias("dst")
            )
        ).select(
            "block_key",
            F.col("node").alias("cluster_id"),
            F.col("component").alias("_new_cid"),
        )
        out = (
            out.join(comp, ["block_key", "cluster_id"], "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("_new_cid"), F.col("cluster_id"))
            )
            .drop("_new_cid")
            # truncate lineage: next round joins against `out` again
            .localCheckpoint(eager=True)
        )
    return out


def assign_clusters(pubs: DataFrame, matches: DataFrame) -> DataFrame:
    """pubs + match edges -> pubs with ``cluster_id``.

    cluster_id = min pub_id of the pub's connected component in its
    block; unmatched pubs become singleton clusters of themselves — the
    reference's P7 empty-block/singleton short-circuit
    (``name_disambiguation.py:857-860,991-994``) falls out naturally.
    """
    comp = connected_components(
        matches.select(
            "block_key", F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    ).withColumnRenamed("node", "pub_id")
    return pubs.join(comp, ["block_key", "pub_id"], "left").select(
        *pubs.columns, F.coalesce("component", "pub_id").alias("cluster_id")
    )
