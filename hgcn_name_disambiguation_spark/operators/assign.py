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

Scale notes: the snapshot is indexed once, JVM-side, into one profile
frame partitioned by block_key (``cluster_profiles``). Authors/venues
in more than ``assign_hot_key_clusters`` clusters of a block are
dropped from it (no identity signal, like the hot-token cap), bounding
each new pub's candidate fan-out. Blocks never interact, so a batch
narrows the profile to its blocks with a broadcast semi-join and runs
one cogroup kernel per touched block that scores and picks: one
shuffle of the new pubs, work that scales with the batch.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig


def _hot_capped(index: DataFrame, key: str, cap: int) -> DataFrame:
    """Drop (block, key) values present in more than ``cap`` distinct
    clusters — no identity signal, unbounded fan-out."""
    counts = index.groupBy("block_key", key).agg(
        F.count(F.lit(1)).alias("_n_clusters")
    )
    return (
        index.join(counts, ["block_key", key])
        .where(F.col("_n_clusters") <= cap)
        .drop("_n_clusters")
    )


def cluster_profiles(
    clustered: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> dict[str, DataFrame]:
    """The snapshot side, built once per snapshot and reused across
    micro-batches: ``{"profile": (block_key, kind, key, cluster_id, w)}``,
    hash-partitioned by block_key, with one row per
      - ``size``: the block's snapshot row count n_block, in ``w``;
      - ``author`` / ``venue``: a distinct (key, cluster_id) pair that
        survives the hot-key cap;
      - ``token``: a distinct (tok, cluster_id) pair of a non-hot token,
        its idf in ``w`` (``token_idf_index``'s ln((n_block+1)/df), df
        over distinct snapshot pub ids);
      - ``hot``: a token with df > ``max_token_df_per_block`` — dropped
        from both sides, which an unseen token is not;
      - ``norm``: a cluster's token norm sqrt(sum idf²) over its
        distinct non-hot tokens, in ``w``."""
    cap = config.assign_hot_key_clusters
    authors = _hot_capped(clustered.select(
        "block_key", F.explode("authors").alias("author"), "cluster_id"
    ).distinct(), "author", cap)
    null_venue = F.lower(F.coalesce(F.col("venue"), F.lit(""))).isin(
        *config.venue_null_values
    )
    venues = _hot_capped(clustered.where(~null_venue).select(
        "block_key", "venue", "cluster_id"
    ).distinct(), "venue", cap)
    block_sizes = clustered.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("n_block")
    )
    idx = clustered.select(
        "block_key", "pub_id", "cluster_id",
        F.explode("title_toks").alias("tok"),
    ).where(F.col("tok").isNotNull())
    block_idf = (
        idx.groupBy("block_key", "tok")
        .agg(F.countDistinct("pub_id").alias("df"))
        .join(block_sizes, "block_key")
        .withColumn("idf", F.log((F.col("n_block") + 1.0) / F.col("df")))
    )
    hot = F.col("df") > config.max_token_df_per_block
    tokens = (
        idx.select("block_key", "tok", "cluster_id")
        .distinct()
        .join(block_idf.where(~hot).select("block_key", "tok", "idf"),
              ["block_key", "tok"])
    )
    token_norms = tokens.groupBy("block_key", "cluster_id").agg(
        F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("c_norm")
    )
    cid_type = clustered.schema["cluster_id"].dataType

    def rows(df, kind, key=None, cid=None, w=None):
        cols = [(key, "string", "key"), (cid, cid_type, "cluster_id"),
                (w, "double", "w")]
        return df.select("block_key", F.lit(kind).alias("kind"), *[
            (F.col(c) if c else F.lit(None)).cast(t).alias(name)
            for c, t, name in cols
        ])

    profile = (
        rows(block_sizes, "size", w="n_block")
        .unionByName(rows(authors, "author", "author", "cluster_id"))
        .unionByName(rows(venues, "venue", "venue", "cluster_id"))
        .unionByName(rows(tokens, "token", "tok", "cluster_id", "idf"))
        .unionByName(rows(block_idf.where(hot), "hot", "tok"))
        .unionByName(rows(token_norms, "norm", cid="cluster_id", w="c_norm"))
        .repartition("block_key")
    )
    return {"profile": profile}


def _score_block(
    new: pd.DataFrame, prof: pd.DataFrame, weights: tuple[float, ...]
) -> list[tuple[object, object, dict]]:
    """One block's scoring: new pubs (pub_id, authors, venue,
    title_toks) against the block's profile rows ->
    [(block_key, pub_id, {cluster_id: (a, t, v, fused)})], one per distinct
    new pub, holding every cluster that shares a coauthor, a venue or a
    non-hot token with it."""
    w_a, w_t, w_v, norm = weights
    n_block, hot, idf, c_norm = 0.0, set(), {}, {}
    index = {k: defaultdict(set) for k in ("author", "venue", "token")}
    for kind, key, cid, w in zip(
        prof["kind"], prof["key"], prof["cluster_id"], prof["w"]
    ):
        if kind == "size":
            n_block = w
        elif kind == "hot":
            hot.add(key)
        elif kind == "norm":
            c_norm[cid] = w
        else:
            index[kind][key].add(cid)
            if kind == "token":
                idf[key] = w
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
        # fsum: equal idf multisets give bit-equal scores (exact ties)
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
            cands[c] = (a, t, v, (w_a * a + w_t * t + w_v * v) / norm)
        out.append((new["block_key"].iloc[0], pid, cands))
    return out


def _score_kernel(new, prof, weights, threshold):
    """Cogroup kernel: every candidate (block_key, pub_id, cluster_id,
    a, t, v, fused) of one block; ``threshold`` is not applied."""
    return pd.DataFrame(
        [(bk, pid, c, *s) for bk, pid, cands in _score_block(new, prof, weights)
         for c, s in cands.items()],
        columns=["block_key", "pub_id", "cluster_id", "a", "t", "v", "fused"],
    )


def _assign_kernel(new, prof, weights, threshold):
    """Cogroup kernel: one (block_key, pub_id, cluster_id, fused) row
    per new pub of one block — the best (fused, cluster_id) that clears
    ``threshold`` (ties to the greatest cluster_id), else NULLs."""
    rows = []
    for bk, pid, cands in _score_block(new, prof, weights):
        fused, cid = max(
            ((s[3], c) for c, s in cands.items() if s[3] >= threshold),
            default=(None, None),
        )
        rows.append((bk, pid, cid, fused))
    return pd.DataFrame(
        rows, columns=["block_key", "pub_id", "cluster_id", "fused"]
    )


def _per_block(new_pubs, profiles, config, kernel, cols) -> DataFrame:
    """Run ``kernel`` over each block the batch touches: the profile is
    narrowed to those blocks by a broadcast semi-join (no shuffle: it is
    already partitioned by block_key), the new pubs are shuffled once."""
    new = new_pubs.select("block_key", "pub_id", "authors", "venue",
                          "title_toks")
    prof = profiles["profile"].join(
        F.broadcast(new.select("block_key")), "block_key", "left_semi"
    )
    types = {f.name: f.dataType.simpleString()
             for f in [*new.schema, prof.schema["cluster_id"]]}
    weights = (config.w_coauthor, config.w_title, config.w_venue,
               config.weight_norm)
    threshold = config.assign_threshold
    return (
        new.groupBy("block_key")
        .cogroup(prof.groupBy("block_key"))
        .applyInPandas(
            lambda n, p: kernel(n, p, weights, threshold),
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
    return assign_with_profiles(
        new_pubs, cluster_profiles(clustered, config), config
    )
