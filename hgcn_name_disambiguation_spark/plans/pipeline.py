"""End-to-end disambiguation pipeline (SURVEY §7.2 M0-M5).

One Spark job over ALL name blocks at once — the reference's per-name
sequential loop (``name_disambiguation.py:785``,
``batch_disambiguation.py:94-101``) becomes a single DAG where
``block_key`` is just a column. Stages:

  repo_files --parse--> pubs --[per block: candidate pairs, fused
  scores, name constraints + ambiguity-adaptive threshold]--> match
  graph --[CC (per-block union-find) + auto-calibrated cluster
  refine]--> clustered pubs --[semantic cluster merge]-->
  final clusters --evaluate--> per-block P/R/F1

The adaptive layer (round 3) is what separates this engine from the
reference's one-global-threshold design; every decision is a measured
trade on the reference's own labeled corpus (see config.py for the
numbers):

1. name-signature cannot-links cut matches whose focal given names
   contradict (operators.name_constraints),
2. per-block ambiguity tiers (functions.names.name_tier) gate how
   weak (venue-only) evidence may act: in fragmented common-name
   blocks it corroborates but cannot bridge components,
3. an evidence-richness gate turns the recall levers OFF in
   dense-evidence corpora where they would over-merge,
4. clustering is connected components of the match graph, one
   union-find per block, then tier-aware cluster-level agglomeration
   (both in clustering.refine_clusters), then the semantic centroid
   merge (cluster_merge.semantic_cluster_merge).

Candidate pairs, scoring and items 1-3 run in one per-block match
kernel over ``pubs`` (``_match_block``), whose output is the only
thing clustering reads (``MatchContext``). Clustering is one grouped
pandas kernel per block (``clustering._cluster_block``), and so is the
merge, which forms its doc vectors itself: every block runs all of its
rounds locally, with no windows, joins between pair frames,
distributed round loops, per-round checkpoints or emptiness probes.

Each stage is exposed separately for checkpoint/resume (plans.stages);
this module is the pure dataflow.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.names import name_tier
from ..operators import name_constraints, scoring
from ..operators.candidate_pairs import (
    EDGE_SCHEMA, block_pairs, member_columns,
)
from ..operators.clustering import _min_roots, refine_clusters
from ..operators.evaluate import pairwise_metrics
from ..operators.name_constraints import focal_signature
from ..operators.parse import parse_publications


@dataclass
class PipelineResult:
    pubs: DataFrame
    scored: DataFrame
    matches: DataFrame
    clustered: DataFrame
    metrics: DataFrame


@dataclass(frozen=True)
class MatchContext:
    """Everything the pubs->match step produces that clustering needs:
    ``frame``, the per-block match kernel's checkpointed output (see
    ``build_match_context``) and the ``matches`` stage of
    ``plans.stages``. It holds the scored pairs with their flags
    (is_match, is_weak, sig_cut, in_match) and one trait row (tier,
    sparse, gated) per block with null pair ids. The properties are
    read-only projections of it.
    """

    frame: DataFrame

    @property
    def scored(self) -> DataFrame:
        """The scored pairs with is_match, is_weak and sig_cut."""
        return self.frame.where(F.col("id_a").isNotNull()).drop(
            "in_match", "tier", "sparse", "gated"
        )

    @property
    def matches(self) -> DataFrame:
        """The match edges (block_key, id_a, id_b, score) after the
        constraints and the ambiguity gate, with the score the match
        threshold read."""
        cols = self.frame.columns
        score = "score_enriched" if "score_enriched" in cols else "score"
        return (
            self.frame.where(F.col("in_match"))
            .select("block_key", "id_a", "id_b", F.col(score).alias("score"))
            .dropDuplicates(["block_key", "id_a", "id_b"])
        )

    @property
    def traits(self) -> DataFrame:
        """Per block (block_key, tier, sparse, gated)."""
        return self.frame.where(F.col("id_a").isNull()).select(
            "block_key", "tier", "sparse", "gated"
        )


def _match_block(
    members: pd.DataFrame, config: PipelineConfig
) -> pd.DataFrame:
    """One block's match step (grouped kernel): the block's members
    (block_key, pub_id, auth, venue, org, title_toks, sig, tier[,
    title]) -> its candidate pairs (``candidate_pairs.block_pairs``)
    with their score (``scoring.fuse_scores``; with ``config.enrich``
    also ``scoring.enrich_scores``' jaccard_title, jw_title and
    score_enriched, which the match threshold then reads), flags
    (``scoring.match_flags``), ``sig_cut`` and ``in_match``, plus one
    trait row (tier, sparse, gated) with null pair ids.

    A block whose tier is null gets no trait row, so only its strong
    pairs match.
    """
    pairs = block_pairs(members, config)
    n = len(pairs)
    ida, idb = pairs["id_a"].tolist(), pairs["id_b"].tolist()
    co, wt, tc, ve, og = (
        pairs[c].tolist()
        for c in ("w_coauthor", "w_title", "title_cos", "w_venue", "w_org")
    )
    score = [
        scoring.fuse_scores(co[i], tc[i], ve[i], og[i], config)
        for i in range(n)
    ]
    out = pairs.assign(score=score)
    if config.enrich:
        toks = dict(zip(members["pub_id"], members["title_toks"]))
        titles = dict(zip(members["pub_id"], members["title"]))
        enriched = [
            scoring.enrich_scores(
                score[i], toks.get(ida[i]), toks.get(idb[i]),
                titles.get(ida[i]), titles.get(idb[i]),
            )
            for i in range(n)
        ]
        out = out.assign(
            jaccard_title=[e[0] for e in enriched],
            jw_title=[e[1] for e in enriched],
            score_enriched=[e[2] for e in enriched],
        )
        score = out["score_enriched"].tolist()
    flags = [
        scoring.match_flags(score[i], co[i], wt[i], tc[i], og[i], config)
        for i in range(n)
    ]
    is_match = [f[0] for f in flags]
    is_weak = [f[1] for f in flags]
    sigs = {
        p: None if s is None else tuple(s)
        for p, s in zip(members["pub_id"], members["sig"])
    }
    matched = [i for i in range(n) if is_match[i]]
    classes = name_constraints.resolve_signature_classes(
        sigs, ((ida[i], idb[i], score[i]) for i in matched)
    )
    cut = [
        name_constraints.incompatible_cut(
            sigs.get(ida[i]), sigs.get(idb[i]),
            classes.get(ida[i]), classes.get(idb[i]),
        )
        for i in range(n)
    ]
    keep = [is_match[i] and not cut[i] for i in range(n)]
    strong = [keep[i] and not is_weak[i] for i in range(n)]

    tier = members["tier"].iloc[0]
    rich = [score[i] for i in matched]
    sparse = (sum(rich) / len(rich) if rich else 0.0) < config.refine_richness_max
    # weak pairs need an open (not gated) block
    gated = tier is None
    if config.weak_bridge_gate and tier == "amb":
        # is the strong-evidence graph fragmented? sizes count every
        # member, singletons included
        roots = _min_roots(
            (ida[i], idb[i]) for i in range(n) if strong[i]
        )
        sizes = Counter(roots.get(p, p) for p in members["pub_id"])
        gated = (
            max(sizes.values()) / len(members) < config.amb_gate_bigfrac
            and len(members) >= config.amb_gate_min_n
        )
    in_match = [
        strong[i] or (keep[i] and is_weak[i] and not gated)
        for i in range(n)
    ]
    out = out.assign(
        is_match=is_match, is_weak=is_weak, sig_cut=cut, in_match=in_match,
        tier=None, sparse=None, gated=None,
    )
    out.insert(0, "block_key", members["block_key"].iloc[0])
    if tier is None:
        return out
    trait = pd.DataFrame(
        [{"block_key": members["block_key"].iloc[0], "tier": tier,
          "sparse": sparse, "gated": gated}]
    )
    return pd.concat([out, trait], ignore_index=True)


def build_match_context(
    pubs: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> MatchContext:
    """Candidate pairs, scores and the adaptive match graph from
    ``pubs``. Single source of truth for the pubs->match step so batch
    (run_pipeline), checkpointed (plans.stages) and streaming
    (streaming.incremental) stay result-identical on the same input +
    config.

    The JVM builds each pub's row-local members (the channel keys of
    ``candidate_pairs.member_columns``, the focal signature ``sig``, the
    block's ``tier`` and, with ``config.enrich``, the ``title``); one
    grouped kernel per block (``_match_block``) then generates the
    block's pairs, scores and flags them, resolves signature classes,
    cuts contradicting pairs, computes the block's traits and picks the
    match edges. ``sig`` is null when ``config.name_constraints`` is off
    or ``pubs`` has no ``authors``, which leaves nothing to cut. The
    kernel output is checkpointed once and is the context's ``frame``.
    """
    if config.name_constraints and "authors" in pubs.columns:
        sig = focal_signature(F.col("block_key"), F.col("authors"))
    else:
        sig = F.lit(None).cast("array<string>")
    cols = [
        *member_columns(pubs, config),
        sig.alias("sig"),
        name_tier(F.col("block_key")).alias("tier"),
    ]
    schema = EDGE_SCHEMA + ", score double"
    if config.enrich:
        cols.append(F.col("title"))
        schema += (
            ", jaccard_title double, jw_title double,"
            " score_enriched double"
        )
    schema += (
        ", is_match boolean, is_weak boolean, sig_cut boolean,"
        " in_match boolean, tier string, sparse boolean, gated boolean"
    )
    return MatchContext(
        pubs.select(*cols)
        .groupBy("block_key")
        .applyInPandas(lambda m: _match_block(m, config), schema=schema)
        .localCheckpoint(eager=True)
    )


def cluster_from_context(
    pubs: DataFrame,
    ctx: MatchContext,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Match context -> pubs with ``cluster_id``: one per-block kernel
    runs connected components of the match graph and the
    auto-calibrated cluster refinement (``refine_clusters``: one
    cogroup, one join back to ``pubs``), then the semantic merge.
    Unmatched pubs become singleton clusters (P7)."""
    clustered = refine_clusters(pubs, ctx.frame, config)
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
    from ..operators import semantic
    from ..operators.cluster_merge import semantic_cluster_merge

    words = semantic.semantic_word_table(pubs, config)
    sig = focal_signature(F.col("block_key"), F.col("authors"))
    return semantic_cluster_merge(
        clustered.withColumn("sig", sig), words, eligible, config
    ).drop("sig")


def run_pipeline(
    repo_files: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> PipelineResult:
    pubs = parse_publications(repo_files, config)
    ctx = build_match_context(pubs, config)
    clustered = cluster_from_context(pubs, ctx, config)
    metrics = pairwise_metrics(clustered)
    return PipelineResult(pubs, ctx.scored, ctx.matches, clustered, metrics)


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
