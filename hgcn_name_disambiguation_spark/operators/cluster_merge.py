"""Semantic cluster-level merge — the cc path's recall layer (round 4).

The cc pipeline's measured recall tail (REFERENCE_EVAL_GHAC.md) is
same-person publication groups with ZERO shared token/coauthor/venue/
org evidence: threshold + connected components can never join them.
Pair-level semantic rescue was measured marginal (0.8154 -> 0.8183,
round 3) because single-pair cosines are noisy; CLUSTER-level merging
— cosine of cluster centroid doc-vectors — averages that noise out and
was measured at 0.8154 -> 0.8240 macro F1 on the reference's 114
labeled blocks (tiered thresholds rare 0.6 / common 0.8 / amb off,
focal-signature guard; sweep in REFERENCE_EVAL_GHAC.md round-4
addendum).

Semantics, per eligible block (sparse-evidence; all tiers carry at
least one live rule since round 5):

1. centroid = mean of member doc vectors (pubs without vectors don't
   contribute; clusters with no vectors never merge),
2. candidate merges = centroid pairs accepted by ANY of: flat
   cosine >= theta(tier); mutual-top1 + margin over both endpoints'
   second-best (round 5 — relative evidence, with a stricter margin
   when a singleton cluster is involved); amb-tier best member-pair
   cosine >= maxdoc_theta inside the [maxdoc_floor, theta) window
   (round 5). Rule rationale + measured sweep: config.py and the
   REFERENCE_EVAL.md round-5 addendum (0.8322 -> 0.8398 macro F1,
   zero blocks regressing),
3. focal-signature guard + closure: passing edges merge GREEDILY by
   descending cosine through a per-block union-find whose union step
   checks the two components' ACCUMULATED distinct signature sets —
   a union is applied only when every signature on one side is
   position-wise compatible with every signature on the other
   ("john a" never merges with "john w", not even transitively
   through a signature-less intermediate cluster). Plain transitive
   closure over pairwise-vetoed edges is NOT equivalent: clusters A
   ('john a') and C ('john w') would close through an intermediate B
   with empty/compatible signatures even though the direct A-C edge
   is vetoed — exactly the false-merge class the guard exists to
   prevent (round-5 fix).

Scale stance: blocks never interact, so the members of every
eligible block (with title tokens, focal signature and the block's rule
knobs) go to one grouped-map pandas kernel (``_merge_block``) that
forms their doc vectors from the driver-side word table and runs all
merge rounds for its block in one Python worker: one shuffle of
pub-level rows, no doc-vector aggregation, no per-round joins,
checkpoints or actions. The kernel
holds the block's clusters x clusters cosine matrix, bounded by
``semantic_merge_max_clusters`` (blocks over the cap keep their CC
clusters unmerged; on the reference corpus every such block is
amb-tier and already theta-gated off); the maxdoc rule compares member
vectors only for cluster pairs inside its cosine window.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from .name_constraints import sig_compatible
from .semantic import doc_vector


def _spark_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot products over the last axis of two broadcastable arrays,
    summed left to right from 0.0 — the order of Spark's ``aggregate``
    over ``zip_with`` products — so a cosine at a rule threshold
    compares exactly as it does in SQL (a BLAS dot sums in another
    order)."""
    out = 0.0
    for k in range(a.shape[-1]):
        out = out + a[..., k] * b[..., k]
    return out


def _merge_components(edges, sigs) -> dict[str, str]:
    """Per-block greedy merge closure: edges (ca, cb, cos) and member
    (cluster_id, sig) pairs -> {cluster_id: representative} for every
    cluster of an edge.

    Edges are processed in descending-cosine order (ties broken by
    (ca, cb) for determinism) through a union-find; a union is applied
    only when the two components' accumulated distinct signature sets
    are pairwise compatible. The representative is the component's
    minimum cluster_id, so unconstrained blocks partition exactly as
    connected components would.
    """
    sig_of: dict[str, set[tuple]] = {}
    for cid, sig in sigs:
        if sig is not None and len(sig):
            sig_of.setdefault(cid, set()).add(tuple(sig))

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    comp_sigs: dict[str, set[tuple]] = {}
    for ca, cb, _ in sorted(edges, key=lambda e: (-e[2], e[0], e[1])):
        for c in (ca, cb):
            if c not in parent:
                parent[c] = c
                comp_sigs[c] = set(sig_of.get(c, ()))
        ra, rb = find(ca), find(cb)
        if ra == rb:
            continue
        sa, sb = comp_sigs[ra], comp_sigs[rb]
        if all(sig_compatible(a, b) for a in sa for b in sb):
            parent[rb] = ra
            comp_sigs[ra] = sa | sb
            comp_sigs.pop(rb)

    groups: dict[str, list[str]] = {}
    for c in parent:
        groups.setdefault(find(c), []).append(c)
    return {c: min(g) for g in groups.values() for c in g}


def _accepted_edges(
    cur: list[str],
    vecs: list,
    nvecs: list,
    knobs: tuple[float, float, float],
    config: PipelineConfig,
) -> list[tuple[str, str, float]]:
    """One round's merge edges (ca, cb, cos), ca < cb, over
    the block's current clusters ``cur`` (one id per member).

    Centroid = mean of the member doc vectors (members without a
    vector don't contribute; a zero-norm centroid never merges). Edge
    acceptance is the OR of three rules over centroid cosine (``knobs``
    = the block's theta, mfloor, maxdoc_theta — a value > 1.0 disables
    that rule):

      theta:  cos >= theta (round-4 flat rule).
      mutual: the two clusters are each other's top-1 partner (ranked
              by cosine, ties to the smaller id), cos >= mfloor, and
              the margin over both endpoints' second-best (-2.0 when
              there is none) clears semantic_merge_mutual_margin (the
              singleton variant when either side has fewer than
              semantic_merge_mutual_min_size members). Relative
              evidence: absolute cosine scales differ per block,
              mutual-top1 + margin does not.
      maxdoc: cos in [semantic_merge_maxdoc_floor, theta) and the best
              normalized MEMBER document pair clears maxdoc_theta.
    """
    theta, mfloor, maxdoc_theta = knobs
    members: dict[str, list[int]] = {}
    for i, c in enumerate(cur):
        members.setdefault(c, []).append(i)
    cids, cents = [], []
    for c in sorted(members):
        vs = [vecs[i] for i in members[c] if vecs[i] is not None]
        if not vs:
            continue
        mean = reduce(np.add, vs) / len(vs)
        if _spark_dot(mean, mean) > 0:
            cids.append(c)
            cents.append(mean)
    n = len(cids)
    if n < 2:
        return []
    cent = np.stack(cents)
    norm = np.sqrt(_spark_dot(cent, cent))
    cos = _spark_dot(cent[:, None], cent[None, :]) / (
        norm[:, None] * norm[None, :]
    )

    # rank partners by (-cos, id): cids is sorted, so a stable sort
    # breaks ties to the smaller id; the diagonal sorts last
    rank = np.where(np.eye(n, dtype=bool), -np.inf, cos)
    order = np.argsort(-rank, axis=1, kind="stable")
    best = order[:, 0]
    second = cos[np.arange(n), order[:, 1]] if n > 2 else np.full(n, -2.0)
    sizes = np.array([len(members[c]) for c in cids])

    ia, ib = np.triu_indices(n, 1)
    c = cos[ia, ib]
    min_size = config.semantic_merge_mutual_min_size
    need = np.where(
        (sizes[ia] >= min_size) & (sizes[ib] >= min_size),
        config.semantic_merge_mutual_margin,
        config.semantic_merge_mutual_margin_singleton,
    )
    accept = (c >= theta) | (
        (c >= mfloor)
        & (best[ia] == ib)
        & (best[ib] == ia)
        & (c - np.maximum(second[ia], second[ib]) >= need)
    )
    if maxdoc_theta <= 1.0:
        window = (
            ~accept & (c >= config.semantic_merge_maxdoc_floor) & (c < theta)
        )
        for p in np.flatnonzero(window):
            na, nb = (
                [nvecs[i] for i in members[cids[x]] if nvecs[i] is not None]
                for x in (ia[p], ib[p])
            )
            accept[p] = bool(na and nb) and (
                _spark_dot(np.stack(na)[:, None], np.stack(nb)[None, :]).max()
                >= maxdoc_theta
            )
    return [(cids[ia[p]], cids[ib[p]], c[p]) for p in np.flatnonzero(accept)]


def _merge_block(
    members: pd.DataFrame,
    words: dict[str, tuple[float, np.ndarray]],
    config: PipelineConfig,
) -> pd.DataFrame:
    """One eligible block's semantic merge (grouped-map kernel):
    members (block_key, pub_id, cluster_id, title_toks, sig, theta,
    mfloor, maxdoc_theta) -> (block_key, cluster_id, _merged) for every
    cluster whose id changed. A member's doc vector is
    ``semantic.doc_vector`` of its title tokens over ``words``.

    Up to ``max(1, semantic_merge_rounds)`` rounds, stopping early when
    no cluster changes: accept edges over the current clusters'
    centroids, then close them with the greedy signature-checked
    union-find. Centroids, sizes and signature sets are recomputed
    from the merged clusters every round, so clusters joined in round
    1 present a sharper centroid to round 2. Members are taken in
    pub_id order, so centroid sums do not depend on the shuffle."""
    cols = ["block_key", "cluster_id", "_merged"]
    members = members.sort_values("pub_id", kind="stable")
    start = members["cluster_id"].tolist()
    if len(set(start)) > config.semantic_merge_max_clusters:
        return pd.DataFrame(columns=cols)
    bk = members["block_key"].iloc[0]
    knobs = tuple(
        float(members[k].iloc[0]) for k in ("theta", "mfloor", "maxdoc_theta")
    )
    sigs = members["sig"].tolist()
    vecs = [doc_vector(t, words) for t in members["title_toks"]]
    # unit member vectors for the maxdoc rule (zero vectors never count)
    nvecs = []
    for v in vecs:
        vn = None if v is None else np.sqrt(_spark_dot(v, v))
        nvecs.append(v / vn if vn else None)

    cur = start
    for _ in range(max(1, config.semantic_merge_rounds)):
        rep = _merge_components(
            _accepted_edges(cur, vecs, nvecs, knobs, config), zip(cur, sigs)
        )
        nxt = [rep.get(c, c) for c in cur]
        if nxt == cur:
            break
        cur = nxt
    moved = {a: b for a, b in zip(start, cur) if a != b}
    return pd.DataFrame(
        {
            "block_key": [bk] * len(moved),
            "cluster_id": list(moved),
            "_merged": list(moved.values()),
        }
    )


def semantic_cluster_merge(
    clustered: DataFrame,
    words: dict[str, tuple[float, np.ndarray]],
    eligible: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Merge clusters of ``clustered`` (must carry block_key, pub_id,
    cluster_id, title_toks and the focal signature ``sig``; other
    columns pass through) until fixpoint, capped at
    ``config.semantic_merge_rounds`` rounds — centroids are recomputed
    after each merge pass, so clusters joined in round 1 present a
    sharper centroid to round 2 (measured: rafael alonso +0.155 F1
    from the second round alone).

    ``words``: the driver-side word table {tok: (idf, vector)}
    (``semantic.semantic_word_table``); the kernel forms each member's
    doc vector from it, so no doc-vector frame or join exists.
    ``eligible``: (block_key, theta[, mfloor, maxdoc_theta]) — the
    blocks to consider and each block's rule knobs (callers derive
    them from tier + sparsity; missing columns default to "off", so a
    plain (block_key, theta) frame reproduces the round-4 flat-theta
    behavior). Returns ``clustered`` with ``cluster_id`` rewritten for
    merged clusters (representative = the component's min cluster id,
    deterministic).
    """
    for col in ("mfloor", "maxdoc_theta"):
        if col not in eligible.columns:
            eligible = eligible.withColumn(col, F.lit(2.0))
    members = clustered.select(
        "block_key", "pub_id", "cluster_id", "title_toks", "sig"
    ).join(
        F.broadcast(
            eligible.select("block_key", "theta", "mfloor", "maxdoc_theta")
        ),
        "block_key",
    )
    mapping = members.groupBy("block_key").applyInPandas(
        lambda pdf: _merge_block(pdf, words, config),
        schema="block_key string, cluster_id string, _merged string",
    )
    return (
        clustered.join(mapping, ["block_key", "cluster_id"], "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("_merged"), F.col("cluster_id"))
        )
        .drop("_merged")
    )
