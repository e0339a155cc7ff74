"""End-to-end disambiguation pipeline (SURVEY §7.2 M0-M5).

One Spark job over ALL name blocks at once — the reference's per-name
sequential loop (``name_disambiguation.py:785``,
``batch_disambiguation.py:94-101``) becomes a single DAG where
``block_key`` is just a column. Stages:

  repo_files --parse--> pubs --edges--> combined_edges --fuse-->
  scored pairs --[name constraints + ambiguity-adaptive threshold]-->
  match graph --[CC (per-block union-find) + auto-calibrated cluster
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
   blocks it corroborates but cannot bridge components; in rare-name
   blocks modest title similarity is accepted as a match,
3. an evidence-richness gate turns the recall levers OFF in
   dense-evidence corpora where they would over-merge,
4. clustering is connected components of the match graph, one
   union-find per block, then tier-aware cluster-level agglomeration
   (both in clustering.refine_clusters), then the semantic centroid
   merge (cluster_merge.semantic_cluster_merge).

Items 1-3 run in one per-block match kernel (``_match_block``), whose
checkpointed output is the only thing clustering reads
(``MatchContext``). Clustering is one grouped pandas kernel per block
(``clustering._cluster_block``), and so is the merge: every block runs
all of its rounds locally, with no distributed round loops, per-round
checkpoints or emptiness probes.

Each stage is exposed separately for checkpoint/resume (plans.stages);
this module is the pure dataflow.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.names import name_tier
from ..operators import name_constraints
from ..operators.candidate_pairs import combined_edges
from ..operators.clustering import _min_roots, _values, refine_clusters
from ..operators.evaluate import pairwise_metrics
from ..operators.name_constraints import focal_signatures
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


@dataclass(frozen=True)
class MatchContext:
    """Everything the score->match step produces that clustering needs:
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
        constraints, the ambiguity gate and the rare-tier rescue, with
        the score the match threshold read."""
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
    flagged: pd.DataFrame,
    members: pd.DataFrame,
    config: PipelineConfig,
    score_col: str,
) -> pd.DataFrame:
    """One block's match step (cogroup kernel): the block's flagged
    pairs and its members (block_key, pub_id, sig, tier) -> the pairs
    plus ``sig_cut`` and ``in_match``, and one trait row (tier, sparse,
    gated) with null pair ids.

    Flag columns keep SQL null semantics: a null ``is_match`` or
    ``is_weak`` never selects a pair. Blocks without members get no
    trait row, so only their strong pairs match.
    """
    n = len(flagged)
    ida, idb = flagged["id_a"].tolist(), flagged["id_b"].tolist()
    score = _values(flagged, score_col)
    is_match = _values(flagged, "is_match")
    is_weak = _values(flagged, "is_weak")
    sigs = {
        p: None if s is None else tuple(s)
        for p, s in zip(members["pub_id"], members["sig"])
    }
    matched = [i for i in range(n) if is_match[i] is True]
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
    keep = [is_match[i] is True and not cut[i] for i in range(n)]
    strong = [keep[i] and is_weak[i] is False for i in range(n)]

    tier = members["tier"].iloc[0] if len(members) else None
    rich = [score[i] for i in matched if score[i] is not None]
    sparse = (sum(rich) / len(rich) if rich else 0.0) < config.refine_richness_max
    # a block without members gets no trait row, and weak pairs need an
    # open (not gated) block
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
    rescue = config.rare_rescue_cos < 1.0 and tier == "rare" and sparse
    if rescue:
        title_cos = _values(flagged, "title_cos")
        w_title = _values(flagged, "w_title")
    in_match = [
        strong[i]
        or (keep[i] and is_weak[i] is True and not gated)
        or (
            rescue
            and not cut[i]
            and is_match[i] is False
            and title_cos[i] is not None
            and title_cos[i] >= config.rare_rescue_cos
            # >= min_title_overlap shared tokens (w_title zeroed below):
            # a single shared token faking a modest cosine is exactly
            # the false-merge channel measured on xiaoyan li-type
            # blocks — one word is never enough to merge on alone.
            and w_title[i] is not None
            and w_title[i] > 0
        )
        for i in range(n)
    ]
    out = flagged.assign(
        sig_cut=cut, in_match=in_match, tier=None, sparse=None, gated=None
    )
    if tier is None:
        return out
    trait = pd.DataFrame(
        [{"block_key": members["block_key"].iloc[0], "tier": tier,
          "sparse": sparse, "gated": gated}]
    )
    return pd.concat([out, trait], ignore_index=True)


def build_match_context(
    pubs: DataFrame,
    edges: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> MatchContext:
    """Score edges and derive the adaptive match graph. Single source
    of truth for the score->match step so batch (run_pipeline),
    checkpointed (plans.stages) and streaming (streaming.incremental)
    stay result-identical on the same input + config.

    Scoring and the match flags are row-local column expressions.
    Everything after them is per block, so the flagged pairs and the
    block's members (block_key, pub_id, sig, tier) go to one cogroup
    kernel (``_match_block``) that resolves signature classes, cuts
    contradicting pairs, computes the block's traits and picks the
    match edges. ``sig`` is null when ``config.name_constraints`` is
    off or ``pubs`` has no ``authors``, which leaves nothing to cut.
    The kernel output is checkpointed once and is the context's
    ``frame``.
    """
    scored = fuse_scores(edges, config)
    score_col = "score"
    if config.enrich:
        scored = enrich_scores(scored, pubs, config)
        score_col = "score_enriched"
    flagged = match_flags(scored, config, score_col)

    if config.name_constraints and "authors" in pubs.columns:
        members = focal_signatures(pubs)
    else:
        members = pubs.select(
            "block_key", "pub_id", F.lit(None).cast("array<string>").alias("sig")
        )
    members = members.withColumn("tier", name_tier(F.col("block_key")))
    schema = (
        T.StructType([T.StructField(f.name, f.dataType) for f in flagged.schema])
        .add("sig_cut", "boolean").add("in_match", "boolean")
        .add("tier", "string").add("sparse", "boolean").add("gated", "boolean")
    )
    return MatchContext(
        flagged.groupBy("block_key")
        .cogroup(members.groupBy("block_key"))
        .applyInPandas(
            lambda f, m: _match_block(f, m, config, score_col), schema=schema
        )
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
    from ..operators.cluster_merge import semantic_cluster_merge
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
