"""M4 — pairwise scoring & fusion (SURVEY §2.8 F5-F7, §2.9 G5).

The reference scores pairs as sigmoid(e_i . e_j) of learned GCN embeds,
masked by combined-graph edges (``name_disambiguation.py:63-75,
579-592``). Its own latent bug (``GCN.py:127-130``: the second layer
never reaches the output) means production scores were a *linear*
fusion of relation-propagated features — so a direct linear fusion of
per-relation evidence is semantically faithful, with the reference's
relation weights (5*coauthor + 1*title + 4*venue)/10 (``GCN.py:124``)
as the default.

Everything here is a pure function of one pair's evidence, called per
pair inside the per-block match kernel
(``plans.pipeline.build_match_context``). The optional
``enrich_scores`` adds Jaro-Winkler + token-Jaccard features for
precision on borderline pairs.
"""

from __future__ import annotations

from collections.abc import Sequence

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.names import jaro_winkler


def fuse_scores(
    w_coauthor: float,
    title_cos: float,
    w_venue: float,
    w_org: float = 0.0,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> float:
    """One pair's fused score.

    Per-relation evidence is squashed to [0,1]:
      coauthor_sig = min(1, w_coauthor)        (>=1 shared coauthor)
      title_sig    = title_cos                 (IDF-weighted cosine,
                                               scale-free — see
                                               candidate_pairs.block_pairs)
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
    score = (
        config.w_coauthor * min(1.0, w_coauthor)
        + config.w_title * title_cos
        + config.w_venue * min(1.0, w_venue)
    ) / config.weight_norm
    if config.w_org > 0:
        score = score + (config.w_org * min(1.0, w_org)) / config.weight_norm
    return score


def enrich_scores(
    score: float,
    toks_a: Sequence[str] | None,
    toks_b: Sequence[str] | None,
    title_a: str | None,
    title_b: str | None,
) -> tuple[float, float, float]:
    """One pair's string-similarity features -> (jaccard_title,
    jw_title, score_enriched): the token-set Jaccard of the two title
    token lists, the Jaro-Winkler similarity of the raw titles (0.0
    when either is null) and

      score_enriched = 0.7*score + 0.3*mean(jaccard, jw).
    """
    a, b = set(toks_a if toks_a is not None else ()), set(
        toks_b if toks_b is not None else ()
    )
    union = len(a | b)
    jaccard = len(a & b) / union if union > 0 else 0.0
    jw = (
        jaro_winkler(title_a, title_b)
        if title_a is not None and title_b is not None
        else 0.0
    )
    return jaccard, jw, 0.7 * score + 0.3 * (jaccard + jw) / 2.0


def match_flags(
    score: float,
    w_coauthor: float,
    w_title: float,
    title_cos: float,
    w_org: float,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> tuple[bool, bool]:
    """One pair's match decision -> (is_match, is_weak).

    ``is_match`` (G6, the reference's pre-cluster threshold,
    ``name_disambiguation.py:86,599``): the score clears
    ``match_threshold``, or the strong-title rule fires. The strong-title
    rule admits title-only pairs whose IDF-cosine is strong
    (>= strong_title_cos): pubs connected by nothing but a rare-token
    title match still belong together, and the fused weight (1/10)
    alone can never lift them over tau. It requires
    >= min_title_overlap shared tokens (``w_title`` > 0): a single
    shared token can dominate two short titles' idf mass and fake a
    strong cosine — one word is never enough to merge on alone.

    ``is_weak``: the pair's evidence is venue-only in fused terms — no
    coauthor, no org, and title cosine below the strong bar. Weak
    matches clear tau only through the venue term; under the ambiguity
    gate they corroborate but may not bridge.
    """
    strong = title_cos >= config.strong_title_cos and w_title > 0
    weak = (
        w_coauthor <= 0 and w_org <= 0 and title_cos < config.strong_title_cos
    )
    return score > config.match_threshold or strong, weak
