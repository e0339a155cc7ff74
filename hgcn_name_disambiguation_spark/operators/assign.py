"""Incremental cluster assignment — attribute NEW publications to an
existing clustered snapshot without re-clustering.

The reference is batch-only (it re-runs the whole block pipeline per
name, ``name_disambiguation.py`` main loop), so this operator is
forward-looking capability in the same spirit as the streaming
surface: the deployment question it answers is "a new paper arrived —
which KNOWN author wrote it?" with bounded latency, leaving the full
(heavier) re-cluster to ``streaming.incremental_disambiguation`` or a
scheduled batch run.

Scoring mirrors the engine's F7 fusion ((5·A + 1·T + 4·V)/10,
``GCN.py:124`` weights):

- A (coauthor): 1.0 when the new pub shares a coauthor with any
  member of the cluster,
- T (title): IDF cosine between the new pub's token vector and the
  cluster's DISTINCT member-token vector, idf from the SNAPSHOT
  (ln((N_block+1)/df)); hot tokens (df > ``max_token_df_per_block``)
  count on neither side; unseen tokens count in the pub norm at the
  block's max idf, ln(N_block+1) (0 for a block the snapshot lacks),
  so unmatchable tokens still dilute the cosine,
- V (venue): 1.0 when the new pub's venue appears in the cluster.

Per new pub the argmax cluster wins (ties to the GREATEST cluster_id)
iff fused >= ``config.assign_threshold``; else cluster_id and fused
are NULL (a new entity, pending the next full resolution).

Scale notes: the snapshot side is its own rows, projected and
partitioned by block_key once (``cluster_profiles``). Each block's
kernel indexes its snapshot rows in memory: authors/venues in more than
``assign_hot_key_clusters`` clusters of the block are dropped (no
identity signal, like the hot-token cap), bounding each new pub's
candidate fan-out. Blocks never interact, so a batch narrows the
snapshot to its blocks with a broadcast semi-join and runs one cogroup
kernel per touched block that indexes, scores and picks: one shuffle of
the new pubs, and no Spark job spent on the index.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from . import scoring


def cluster_profiles(clustered: DataFrame) -> dict[str, DataFrame]:
    """The snapshot side, built once per snapshot and reused across
    micro-batches: ``{"profile": (block_key, pub_id, cluster_id,
    authors, venue, title_toks)}``, the snapshot's own rows
    hash-partitioned by block_key. The per-block kernel builds the
    block's index from them (``_score_block``)."""
    return {"profile": clustered.select(
        "block_key", "pub_id", "cluster_id", "authors", "venue", "title_toks"
    ).repartition("block_key")}


def _score_block(
    new: pd.DataFrame, prof: pd.DataFrame, config: PipelineConfig
) -> list[tuple[object, object, dict]]:
    """One block's scoring: new pubs (pub_id, authors, venue,
    title_toks) against the block's snapshot rows ->
    [(block_key, pub_id, {cluster_id: (a, t, v, fused)})], one per distinct
    new pub, holding every cluster that shares a coauthor, a venue or a
    non-hot token with it.

    The block's index: n_block is its snapshot row count; an author or
    venue in more than ``assign_hot_key_clusters`` distinct clusters is
    dropped, and a venue in ``venue_null_values`` never counts; a
    token's df counts distinct snapshot pub ids, its idf is
    ln((n_block+1)/df), and with df > ``max_token_df_per_block`` it is
    hot, dropped from both sides (an unseen token is not); a cluster's
    norm is sqrt(sum idf²) over its distinct non-hot tokens."""
    nulls = set(config.venue_null_values)
    index = {k: defaultdict(set) for k in ("author", "venue", "token")}
    holders: dict = defaultdict(set)
    for pid, cid, authors, venue, toks in zip(
        prof["pub_id"], prof["cluster_id"], prof["authors"], prof["venue"],
        prof["title_toks"],
    ):
        for x in authors if authors is not None else ():
            if x is not None:
                index["author"][x].add(cid)
        if venue is not None and venue.lower() not in nulls:
            index["venue"][venue].add(cid)
        for x in toks if toks is not None else ():
            if x is not None:
                index["token"][x].add(cid)
                holders[x].add(pid)
    for kind in ("author", "venue"):
        index[kind] = {k: cs for k, cs in index[kind].items()
                       if len(cs) <= config.assign_hot_key_clusters}
    n_block = len(prof)
    hot = {x for x, p in holders.items()
           if len(p) > config.max_token_df_per_block}
    idf = {x: math.log((n_block + 1.0) / len(p))
           for x, p in holders.items() if x not in hot}
    sq: dict = defaultdict(list)
    for x in idf:
        for c in index["token"][x]:
            sq[c].append(idf[x] ** 2)
    # fsum: equal idf multisets give bit-equal norms and scores, in any
    # row order (exact ties)
    c_norm = {c: math.sqrt(math.fsum(v)) for c, v in sq.items()}
    unseen = math.log(n_block + 1.0)
    pubs: dict[object, tuple[set, set, set]] = {}
    for pid, authors, venue, toks in zip(
        new["pub_id"], new["authors"], new["venue"], new["title_toks"]
    ):
        a, v, t = pubs.setdefault(pid, (set(), set(), set()))
        a.update(authors if authors is not None else ())
        v.add(venue)
        t.update(x for x in (toks if toks is not None else ()) if x not in hot)
    out = []
    for pid, (authors, venues, toks) in pubs.items():
        a_hit = set().union(*(index["author"].get(x, ()) for x in authors))
        v_hit = set().union(*(index["venue"].get(x, ()) for x in venues))
        p_norm = math.sqrt(math.fsum(idf.get(x, unseen) ** 2 for x in toks))
        shared: dict = defaultdict(list)
        for x in toks:
            for c in index["token"].get(x, ()):
                shared[c].append(idf[x] ** 2)
        cands = {}
        for c in a_hit | v_hit | shared.keys():
            a, v = float(c in a_hit), float(c in v_hit)
            t = (math.fsum(shared[c]) / (p_norm * c_norm[c])
                 if c in shared and p_norm > 0 and c_norm[c] > 0 else 0.0)
            cands[c] = (a, t, v, scoring.fuse_scores(a, t, v, 0.0, config))
        out.append((new["block_key"].iloc[0], pid, cands))
    return out


def _score_kernel(new, prof, config):
    """Cogroup kernel: every candidate (block_key, pub_id, cluster_id,
    a, t, v, fused) of one block; ``assign_threshold`` is not applied."""
    return pd.DataFrame(
        [(bk, pid, c, *s) for bk, pid, cands in _score_block(new, prof, config)
         for c, s in cands.items()],
        columns=["block_key", "pub_id", "cluster_id", "a", "t", "v", "fused"],
    )


def _assign_kernel(new, prof, config):
    """Cogroup kernel: one (block_key, pub_id, cluster_id, fused) row
    per new pub of one block — the best (fused, cluster_id) that clears
    ``assign_threshold`` (ties to the greatest cluster_id), else NULLs."""
    rows = []
    for bk, pid, cands in _score_block(new, prof, config):
        fused, cid = max(
            ((s[3], c) for c, s in cands.items()
             if s[3] >= config.assign_threshold),
            default=(None, None),
        )
        rows.append((bk, pid, cid, fused))
    return pd.DataFrame(
        rows, columns=["block_key", "pub_id", "cluster_id", "fused"]
    )


def _per_block(new_pubs, profiles, config, kernel, cols) -> DataFrame:
    """Run ``kernel`` over each block the batch touches: the profile is
    narrowed to those blocks by a broadcast semi-join (no shuffle: it is
    already partitioned by block_key), the new pubs are shuffled once.
    The new side's columns are re-aliased, so new pubs and a snapshot
    drawn from the same frame do not read as an ambiguous self-join."""
    new = new_pubs.select(*[F.col(c).alias(c) for c in (
        "block_key", "pub_id", "authors", "venue", "title_toks")])
    prof = profiles["profile"].join(
        F.broadcast(new.select("block_key")), "block_key", "left_semi"
    )
    types = {f.name: f.dataType.simpleString()
             for f in [*new.schema, prof.schema["cluster_id"]]}
    return (
        new.groupBy("block_key")
        .cogroup(prof.groupBy("block_key"))
        .applyInPandas(
            lambda n, p: kernel(n, p, config),
            schema=", ".join(f"{c} {types.get(c, 'double')}" for c in cols),
        )
    )


def score_against_clusters(
    new_pubs: DataFrame,
    profiles: dict[str, DataFrame],
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(block_key, pub_id, cluster_id, a, t, v, fused) for every
    candidate (new pub, cluster) pair that shares a coauthor, a venue,
    or at least one indexed token — the per-block scores
    ``assign_with_profiles`` picks from."""
    return _per_block(
        new_pubs, profiles, config, _score_kernel,
        ["block_key", "pub_id", "cluster_id", "a", "t", "v", "fused"],
    )


def assign_with_profiles(
    new_pubs: DataFrame,
    profiles: dict[str, DataFrame],
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """One row per NEW pub: (block_key, pub_id, cluster_id, fused),
    scored against ``cluster_profiles`` output — cluster_id (and fused)
    NULL when no cluster clears ``config.assign_threshold``."""
    return _per_block(
        new_pubs, profiles, config, _assign_kernel,
        ["block_key", "pub_id", "cluster_id", "fused"],
    )


def assign_to_clusters(
    new_pubs: DataFrame,
    clustered: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """``assign_with_profiles`` against a clustered snapshot, indexed
    on the fly. Deterministic: ties on fused break toward the greatest
    cluster_id."""
    return assign_with_profiles(new_pubs, cluster_profiles(clustered), config)
