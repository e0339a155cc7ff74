"""M4 — pairwise scoring & fusion (SURVEY §2.8 F5-F7, §2.9 G5).

The reference scores pairs as sigmoid(e_i . e_j) of learned GCN embeds,
masked by combined-graph edges (``name_disambiguation.py:63-75,
579-592``). Its own latent bug (``GCN.py:127-130``: the second layer
never reaches the output) means production scores were a *linear*
fusion of relation-propagated features — so a direct linear fusion of
per-relation evidence is semantically faithful, with the reference's
relation weights (5*coauthor + 1*title + 4*venue)/10 (``GCN.py:124``)
as the default.

Everything here is built-in column arithmetic — whole-stage codegen,
no Python in the hot path. The optional ``enrich_scores`` adds
Jaro-Winkler (pandas UDF) + token-Jaccard features for precision on
borderline pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.names import jaro_winkler_udf


def fuse_scores(
    edges: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """edges(block_key,id_a,id_b,w_coauthor,w_title,[w_org,]w_venue)
    -> +score.

    Per-relation evidence is squashed to [0,1]:
      coauthor_sig = min(1, w_coauthor)        (>=1 shared coauthor)
      title_sig    = title_cos                 (IDF-weighted cosine,
                                               scale-free — see
                                               candidate_pairs.title_edges)
      venue_sig    = min(1, w_venue)           (same venue)
      org_sig      = min(1, w_org)             (same affiliation string;
                                               engine extension — the
                                               reference parses org but
                                               never uses it)
    then fused with the reference weights (GCN.py:124):
      score = (5*coauthor + 1*title + 4*venue)/10 + (w_org_cfg/10)*org.
    The reference channels keep their exact published weights; org is
    additive on top (score range [0, 1 + w_org/10]).
    """
    ca = F.least(F.lit(1.0), F.col("w_coauthor"))
    ti = F.col("title_cos")
    ve = F.least(F.lit(1.0), F.col("w_venue"))
    score = (
        config.w_coauthor * ca + config.w_title * ti + config.w_venue * ve
    ) / F.lit(config.weight_norm)
    if "w_org" in edges.columns and config.w_org > 0:
        score = score + (
            config.w_org * F.least(F.lit(1.0), F.col("w_org"))
        ) / F.lit(config.weight_norm)
    return edges.withColumn("score", score)


def enrich_scores(
    scored: DataFrame,
    pubs: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """Join pub attributes onto pairs and add string-sim features:
    token Jaccard (built-in array ops) and title Jaro-Winkler (Arrow
    pandas UDF — only stage that crosses into Python, and only for
    pairs inside ``band``).

    score_enriched = 0.7*score + 0.3*mean(jaccard, jw).
    """
    attrs = pubs.select(
        "block_key",
        F.col("pub_id"),
        F.col("title_toks"),
        F.col("title"),
        F.col("venue"),
    )
    a = attrs.alias("pa")
    b = attrs.alias("pb")
    joined = (
        scored.join(
            a,
            (scored.block_key == F.col("pa.block_key"))
            & (scored.id_a == F.col("pa.pub_id")),
        )
        .join(
            b,
            (scored.block_key == F.col("pb.block_key"))
            & (scored.id_b == F.col("pb.pub_id")),
        )
        .select(
            scored["*"],
            F.col("pa.title_toks").alias("toks_a"),
            F.col("pb.title_toks").alias("toks_b"),
            F.col("pa.title").alias("title_a"),
            F.col("pb.title").alias("title_b"),
            F.col("pa.venue").alias("venue_a"),
            F.col("pb.venue").alias("venue_b"),
        )
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    jaccard = F.when(union > 0, inter / union).otherwise(F.lit(0.0))

    in_band = (
        (F.col("score") >= band[0]) & (F.col("score") < band[1])
        if band
        else F.lit(True)
    )
    jw = F.when(in_band, jaro_winkler_udf("title_a", "title_b")).otherwise(
        F.lit(0.0)
    )
    # NOTE: no venue Levenshtein here — score_enriched only consumes
    # jaccard + jw, so computing edit distance per pair would be pure
    # cost (it was measured dead weight and removed).
    out = joined.withColumn("jaccard_title", jaccard).withColumn(
        "jw_title", jw
    )
    enriched = F.when(
        in_band,
        0.7 * F.col("score")
        + 0.3 * (F.col("jaccard_title") + F.col("jw_title")) / 2.0,
    ).otherwise(F.col("score"))
    return out.withColumn("score_enriched", enriched).drop(
        "toks_a", "toks_b", "title_a", "title_b", "venue_a", "venue_b"
    )


def match_flags(
    scored: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    score_col: str = "score",
) -> DataFrame:
    """Annotate scored pairs with the match decision as COLUMNS (used
    by the adaptive pipeline, which routes strong and weak matches
    differently; ``threshold_matches`` keeps the row-filter form):

    - ``is_match``: same predicate as ``threshold_matches`` (tau +
      strong-title rescue + corroboration gates).
    - ``is_weak``: the pair's evidence is venue-only in fused terms —
      no coauthor, no org, and title cosine below the strong bar. Weak
      matches clear tau only through the venue term; under the
      ambiguity gate they corroborate but may not bridge.
    """
    cond = F.col(score_col) > config.match_threshold
    have = set(scored.columns)
    if {"w_coauthor", "w_venue", "w_org", "title_cos"} <= have:
        no_title = F.col("title_cos") <= 0
        no_other = (F.col("w_venue") <= 0) & (F.col("w_org") <= 0)
        if config.exclude_single_coauthor_only:
            solo_co = (F.col("w_coauthor") == 1) & no_other & no_title
            cond = cond & ~solo_co
        if config.exclude_venue_only:
            solo_ve = (
                (F.col("w_venue") > 0)
                & (F.col("w_coauthor") <= 0)
                & (F.col("w_org") <= 0)
                & no_title
            )
            cond = cond & ~solo_ve
    if "title_cos" in have:
        strong = F.col("title_cos") >= config.strong_title_cos
        if "w_title" in have:
            strong = strong & (F.col("w_title") > 0)
        cond = cond | strong
    weak = (
        (F.col("w_coauthor") <= 0)
        & (F.col("w_org") <= 0)
        & (F.col("title_cos") < config.strong_title_cos)
        if {"w_coauthor", "w_org", "title_cos"} <= have
        else F.lit(False)
    )
    return scored.withColumn("is_match", cond).withColumn("is_weak", weak)


def threshold_matches(
    scored: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
    score_col: str = "score",
) -> DataFrame:
    """G6: keep pairs above the match threshold — the edge set of the
    match graph (reference pre-cluster threshold,
    ``name_disambiguation.py:86,599``).

    A second high-precision rule admits title-only pairs whose
    IDF-cosine is strong (>= strong_title_cos): pubs connected by
    nothing but a rare-token title match still belong together, and
    the fused weight (1/10) alone can never lift them over tau.

    Corroboration gates (config.exclude_single_coauthor_only /
    exclude_venue_only): evidence signatures whose measured precision
    on the reference's labeled corpus is too low for transitive
    closure (one false edge merges two whole entities) are excluded
    even when the fused score clears tau — see config for the
    measured numbers.

    The strong-title rescue requires >= min_title_overlap shared
    tokens (w_title is zeroed below that bound): a single shared token
    can dominate two short titles' idf mass and fake a strong cosine —
    one word is never enough to merge on alone. The predicate itself
    lives in ``match_flags`` (single source of truth).
    """
    return (
        match_flags(scored, config, score_col)
        .where(F.col("is_match"))
        .select("block_key", "id_a", "id_b", F.col(score_col).alias("score"))
    )
