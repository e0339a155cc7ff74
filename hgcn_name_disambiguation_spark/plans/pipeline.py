"""End-to-end disambiguation pipeline (SURVEY §7.2 M0-M5).

One Spark job over ALL name blocks at once — the reference's per-name
sequential loop (``name_disambiguation.py:785``,
``batch_disambiguation.py:94-101``) becomes a single DAG where
``block_key`` is just a column. Stages:

  repo_files --parse--> pubs --edges--> combined_edges --fuse-->
  scored pairs --[name constraints + ambiguity-adaptive threshold]-->
  match graph --CC (per-block union-find)--> clustered pubs
  --[auto-calibrated cluster refine]--> final clusters --evaluate-->
  per-block P/R/F1

The adaptive layer (round 3) is what separates this engine from the
reference's one-global-threshold design; every decision is a measured
trade on the reference's own labeled corpus (see config.py for the
numbers):

1. name-signature cannot-links cut matches whose focal given names
   contradict (operators.name_constraints),
2. per-block ambiguity tiers (functions.names.name_tier) gate how
   weak (venue-only) evidence may act: in fragmented common-name
   blocks it corroborates but cannot bridge components; in rare-name
   blocks modest title similarity is accepted as a match,
3. an evidence-richness gate turns the recall levers OFF in
   dense-evidence corpora where they would over-merge,
4. clustering is connected components of the match graph, one
   union-find per block (clustering.connected_components), then
   tier-aware cluster-level agglomeration (clustering.refine_clusters).

Each stage is exposed separately for checkpoint/resume (plans.stages);
this module is the pure dataflow.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.names import name_tier
from ..operators.candidate_pairs import combined_edges
from ..operators.clustering import assign_clusters, refine_clusters
from ..operators.evaluate import pairwise_metrics
from ..operators.name_constraints import (
    incompatible_cut,
    resolve_signature_classes,
)
from ..operators.parse import parse_publications
from ..operators.scoring import enrich_scores, fuse_scores, match_flags


@dataclass
class PipelineResult:
    pubs: DataFrame
    edges: DataFrame
    scored: DataFrame
    matches: DataFrame
    clustered: DataFrame
    metrics: DataFrame


@dataclass
class MatchContext:
    """Everything the score->match step produces that clustering needs.

    scored:  scored pairs with flag columns (is_match, is_weak,
             sig_cut) — refine reads the sub-threshold rows too.
    matches: the final match edge set (block_key, id_a, id_b, score)
             after constraints, the ambiguity gate, and the rare-tier
             rescue.
    traits:  per-block (tier, gated, sparse) — drives refine.
    """

    scored: DataFrame
    matches: DataFrame
    traits: DataFrame


def build_match_context(
    pubs: DataFrame,
    edges: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> MatchContext:
    """Score edges and derive the adaptive match graph. Single source
    of truth for the score→match step so batch (run_pipeline),
    checkpointed (plans.stages) and streaming (streaming.incremental)
    stay result-identical on the same input + config."""
    scored = fuse_scores(edges, config)
    score_col = "score"
    if config.enrich:
        scored = enrich_scores(scored, pubs, config)
        score_col = "score_enriched"
    flagged = match_flags(scored, config, score_col)

    if config.name_constraints and "authors" in pubs.columns:
        from ..operators.name_constraints import focal_signatures

        m0 = flagged.where(F.col("is_match")).select(
            "block_key", "id_a", "id_b", F.col(score_col).alias("score")
        )
        sigs = focal_signatures(pubs).localCheckpoint(eager=False)
        classes = resolve_signature_classes(pubs, m0, config, sigs=sigs)
        flagged = incompatible_cut(flagged, classes, sigs=sigs)
    else:
        flagged = flagged.withColumn("sig_cut", F.lit(False))
    # Materialize the flagged pair frame ONCE: every downstream branch
    # (strong/weak/rescue splits, richness, refine evidence) consumes
    # it, and without truncation each action re-pays both the
    # execution AND the multi-second Catalyst planning of the full
    # scoring+constraint expression tree (measured: the planning time,
    # not the data, dominated small-input runs). At cluster scale this
    # is the natural persist point for the same reason — the frame is
    # read >= 4 times.
    flagged = flagged.localCheckpoint(eager=True)

    # --- per-block traits ---------------------------------------------
    tiers = (
        pubs.select("block_key")
        .distinct()
        .withColumn("tier", name_tier(F.col("block_key")))
    )
    richness = (
        flagged.where(F.col("is_match"))
        .groupBy("block_key")
        .agg(F.avg(score_col).alias("_rich"))
    )
    traits = tiers.join(richness, "block_key", "left").withColumn(
        "sparse",
        F.coalesce(F.col("_rich"), F.lit(0.0))
        < F.lit(config.refine_richness_max),
    )

    keep = F.col("is_match") & ~F.col("sig_cut")
    sel = lambda df: df.select(  # noqa: E731
        "block_key", "id_a", "id_b", F.col(score_col).alias("score")
    )
    strong = sel(flagged.where(keep & ~F.col("is_weak")))

    if config.weak_bridge_gate:
        # gate statistics come from the strong-evidence components:
        # per amb-tier block, is the strong graph fragmented?
        assigned = assign_clusters(pubs.select("block_key", "pub_id"), strong)
        bstats = (
            assigned.groupBy("block_key", "cluster_id")
            .agg(F.count(F.lit(1)).alias("_cn"))
            .groupBy("block_key")
            .agg(
                F.sum("_cn").alias("_n"),
                F.max("_cn").alias("_big"),
            )
            .withColumn("_bigfrac", F.col("_big") / F.col("_n"))
        )
        traits = (
            traits.join(bstats, "block_key", "left")
            .withColumn(
                "gated",
                (F.col("tier") == "amb")
                & (
                    F.coalesce(F.col("_bigfrac"), F.lit(1.0))
                    < F.lit(config.amb_gate_bigfrac)
                )
                & (
                    F.coalesce(F.col("_n"), F.lit(0))
                    >= F.lit(config.amb_gate_min_n)
                ),
            )
            .drop("_n", "_big", "_bigfrac")
        )
    else:
        traits = traits.withColumn("gated", F.lit(False))
    traits = traits.drop("_rich")
    # traits is one row per block — tiny relative to pairs at any
    # scale; cache-by-checkpoint so the (pubs ⋈ CC) subtree behind
    # `gated` isn't re-executed by every downstream join.
    traits = traits.localCheckpoint(eager=False)

    weak_kept = (
        flagged.where(keep & F.col("is_weak"))
        .join(
            traits.where(~F.col("gated")).select("block_key"),
            "block_key",
            "left_semi",
        )
    )
    rescue = (
        flagged.where(
            ~F.col("sig_cut")
            & ~F.col("is_match")
            & (F.col("title_cos") >= F.lit(config.rare_rescue_cos))
            # >= min_title_overlap shared tokens (w_title zeroed below):
            # a single shared token faking a modest cosine is exactly
            # the false-merge channel measured on xiaoyan li-type
            # blocks — one word is never enough to merge on alone.
            & (F.col("w_title") > 0)
        ).join(
            traits.where(
                (F.col("tier") == "rare") & F.col("sparse")
            ).select("block_key"),
            "block_key",
            "left_semi",
        )
        if config.rare_rescue_cos < 1.0
        else flagged.where(F.lit(False))
    )
    matches = (
        strong.unionByName(sel(weak_kept))
        .unionByName(sel(rescue))
        .dropDuplicates(["block_key", "id_a", "id_b"])
    )
    return MatchContext(flagged, matches, traits)


def cluster_from_context(
    pubs: DataFrame,
    ctx: MatchContext,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Match context -> pubs with ``cluster_id``: connected components
    of the match graph (one union-find per block), then auto-calibrated
    cluster refinement and the semantic merge. Unmatched pubs become
    singleton clusters (P7)."""
    clustered = assign_clusters(pubs, ctx.matches)
    if config.cluster_refine_rounds > 0:
        clustered = refine_clusters(
            clustered, ctx.scored, config, traits=ctx.traits
        )
    if config.semantic_merge:
        clustered = _semantic_merge_stage(pubs, clustered, ctx, config)
    return clustered


def _semantic_merge_stage(
    pubs: DataFrame,
    clustered: DataFrame,
    ctx: MatchContext,
    config: PipelineConfig,
) -> DataFrame:
    """cc recall layer: semantic centroid cluster merge over sparse
    non-amb blocks (operators/cluster_merge.py). The Word2Vec fit is
    the expensive part, so eligibility is decided FIRST with one
    driver-side scalar over the per-block traits frame (rows = blocks,
    tiny at any corpus scale): evidence-rich corpora — the synthetic
    fixtures, any corpus whose matched-pair scores are dense — skip
    the stage entirely, fit included. Same auto-calibration contract
    as the round-3 adaptive layer: ONE default config, recall levers
    only where evidence is poor."""
    theta = (
        F.when(F.col("tier") == "rare", F.lit(config.semantic_merge_theta_rare))
        .when(F.col("tier") == "common", F.lit(config.semantic_merge_theta_common))
        .otherwise(F.lit(config.semantic_merge_theta_amb))
    )
    mfloor = (
        F.when(
            F.col("tier") == "rare",
            F.lit(config.semantic_merge_mutual_floor_rare),
        )
        .when(
            F.col("tier") == "common",
            F.lit(config.semantic_merge_mutual_floor_common),
        )
        .otherwise(F.lit(config.semantic_merge_mutual_floor_amb))
    )
    maxdoc_theta = (
        F.when(
            F.col("tier") == "amb",
            F.lit(config.semantic_merge_maxdoc_theta_amb),
        )
        .when(
            F.col("tier") == "common",
            F.lit(config.semantic_merge_maxdoc_theta_common),
        )
        .otherwise(F.lit(2.0))
    )
    eligible = (
        ctx.traits.where(F.col("sparse"))
        .withColumn("theta", theta)
        .withColumn("mfloor", mfloor)
        .withColumn("maxdoc_theta", maxdoc_theta)
        # a block is eligible when ANY rule is live for its tier
        .where(
            F.least("theta", "mfloor", "maxdoc_theta") <= 1.0
        )
        .select("block_key", "theta", "mfloor", "maxdoc_theta")
    )
    # one scalar action over the block-level frame — bounded by the
    # number of blocks, never by rows
    if eligible.isEmpty():
        return clustered
    from ..operators.cluster_merge import semantic_cluster_merge
    from ..operators.name_constraints import focal_signatures
    from ..operators.semantic import semantic_document_vectors

    doc_vecs = semantic_document_vectors(pubs, config)
    sigs = focal_signatures(pubs.select("block_key", "pub_id", "authors"))
    return semantic_cluster_merge(
        clustered, doc_vecs, sigs, eligible, config
    )


def run_pipeline(
    repo_files: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> PipelineResult:
    pubs = parse_publications(repo_files, config)
    edges = combined_edges(pubs, config)
    ctx = build_match_context(pubs, edges, config)
    clustered = cluster_from_context(pubs, ctx, config)
    metrics = pairwise_metrics(clustered)
    return PipelineResult(
        pubs, edges, ctx.scored, ctx.matches, clustered, metrics
    )


def verify_content_sha(repo_files: DataFrame, clustered: DataFrame) -> bool:
    """North-rule per-row invariant: every input row's sha2(content,256)
    survives to the clustered output unchanged (anti-join is empty both
    ways on the parsed-lang rows)."""
    src = repo_files.where(F.col("lang").isin("json", "xml")).select(
        F.sha2("content", 256).alias("content_sha")
    )
    out = clustered.select("content_sha")
    missing = src.exceptAll(out).count()
    extra = out.exceptAll(src).count()
    return missing == 0 and extra == 0
