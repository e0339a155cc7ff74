"""M2 — candidate pair/edge generation, one per-block kernel (SURVEY
§2.3 J1-J4, §2.4 A1-A2).

The reference builds three per-block publication graphs with nested
Python loops (O(n^2) per block):
- co-author  Ga: ``name_disambiguation.py:876-917``
- co-venue   Gv: ``name_disambiguation.py:919-957``
- co-title   Gt: ``name_disambiguation.py:959-976`` (weight =
  |stemmed-token-set intersection|, kept iff >= 2)
- combined    G: union summing weights, ``:978-988``

Every channel key is row-local, and everything keyed by block — the
document frequencies, the hot-key caps, the token idf, the token norms
and the pair aggregates — stays inside one block. So the JVM builds
each pub's keys without a shuffle (``member_columns``), and one
grouped pandas kernel per block (``block_pairs``) holds an in-memory
inverted index per channel and emits only the pairs that share a key:
the cost is bounded by key co-occurrence, not n^2 (inverted-index
candidate generation with count filtering, as in *Highly Efficient
String Similarity Search and Join over Compressed Indexes*, ICDE 2022).
``plans.pipeline.build_match_context`` runs the same function inside
its match kernel; ``combined_edges`` runs it alone.

Scale levers (explicit, per north_rule):
- **hot-key caps**: an attribute value shared by k pubs emits C(k,2)
  pairs; values whose per-block document frequency exceeds a cap are
  dropped from the index. At 10^12 rows this is what keeps
  "Unknown venue"/"the"-grade keys from exploding.
- **per-block top-k**: ``config.max_pairs_per_block > 0`` keeps a
  block's strongest pairs by fused score (``scoring.fuse_scores``),
  ties to the smaller (id_a, id_b).
- **skew**: a block is one Python worker's input, as it is in every
  later step (match, clustering, metrics, assign). On the generator's
  80x120 skew-8 corpus (10,566 pubs, 522,521 pairs) the largest block
  is 960 pubs and 70,887 pairs.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.names import block_key as _name_key
from .scoring import fuse_scores

# the pair columns, in the order every edge frame carries them
EDGE_COLUMNS = [
    "id_a", "id_b", "w_coauthor", "w_title", "title_cos", "w_venue", "w_org",
]
EDGE_SCHEMA = (
    "block_key string, id_a string, id_b string, w_coauthor double, "
    "w_title double, title_cos double, w_venue double, w_org double"
)


def member_columns(pubs: DataFrame, config: PipelineConfig) -> list[Column]:
    """The row-local channel keys ``block_pairs`` reads, as columns over
    ``pubs`` (no shuffle):

    - ``auth``: distinct coauthor keys, normalized to the blocking key's
      first+last form (P5 semantics, ``openAlex_to_HGCN.py:49-91``), so
      middle-initial variants ("David M. Engman" vs "David Engman")
      match and the focal (blocked) author is excluded under ANY of
      their name variants. The reference pairs on *co*-authors only
      (``openAlex_to_HGCN.py:299-308``);
    - ``venue``: as parsed (null-ish venues are already null);
    - ``org``: lowercased, punctuation-free affiliation, null when
      3 characters or shorter or a placeholder. Placeholders are not
      evidence: the AMiner corpus carries 1476 literal "Unknown" orgs,
      which would weld every unknown-org pub of a block into one
      false 0.4-score clique. The reference parses ``organization``
      (``name_disambiguation.py:828``) but never feeds it to a graph;
      this channel is an engine extension;
    - ``title_toks``: the stemmed, distinct title tokens.
    """
    auth = F.filter(
        F.array_distinct(F.transform(F.col("authors"), _name_key)),
        lambda a: a.isNotNull()
        & (a != F.lit(""))
        & (a != F.col("block_key")),
    )
    if "org" in pubs.columns:
        norm = F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("org"), r"[^\p{L}\p{N}\s]+", " "),
                r"\s+",
                " ",
            )
        )
        org = F.when(
            norm.isNotNull()
            & (F.length(norm) > 3)
            & ~norm.isin(*config.venue_null_values),
            norm,
        )
    else:
        org = F.lit(None).cast("string")
    return [
        F.col("block_key"),
        F.col("pub_id"),
        auth.alias("auth"),
        F.col("venue"),
        org.alias("org"),
        F.col("title_toks"),
    ]


def _postings(keys_per_row, cap: int) -> dict:
    """Inverted index {key: [row, ...]} over one block, keys whose
    document frequency exceeds ``cap`` dropped. A row's keys are a list
    (None for none) or, for scalar channels, one value or None."""
    post: dict = defaultdict(list)
    for r, keys in enumerate(keys_per_row):
        if keys is None:
            continue
        if isinstance(keys, str):
            post[keys].append(r)
        else:
            for k in keys:
                post[k].append(r)
    return {k: rows for k, rows in post.items() if len(rows) <= cap}


def _pairs(rows: list[int], ids: list[str]):
    """Canonical (id_a, id_b) pairs, id_a < id_b, over one posting list."""
    ordered = sorted(ids[r] for r in rows)
    for i, a in enumerate(ordered):
        for b in ordered[i + 1:]:
            if a != b:
                yield a, b


def block_pairs(
    members: pd.DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> pd.DataFrame:
    """One block's candidate pairs: members (pub_id, auth, venue, org,
    title_toks) -> (id_a, id_b, w_coauthor, w_title, title_cos,
    w_venue, w_org), one row per pair sharing a key, sorted by
    (id_a, id_b). A pair's channels:

    - ``w_coauthor``: shared coauthor keys (J2);
    - ``w_venue`` / ``w_org``: 1.0 when the venues / orgs are equal
      (J3, ``name_disambiguation.py:930-948``; org as above);
    - title (J1/T1): a token's idf is ln((n_block + 1) / df), over the
      block's rows. ``title_cos`` is the cosine of the two pubs' idf
      vectors, scale-free in [0, 1], so generic tokens stop mattering
      at any block size. Its dot and the squared norms are exactly
      rounded sums (``math.fsum``), so they do not depend on row order.
      Two overlap gates, deliberately different:
      - ``min_title_cos_overlap`` (default 1) gates the channel: a pair
        with fewer shared non-hot tokens has no title evidence, and a
        pair with nothing else is not emitted. Keeping single-token
        cosines is worth +1.7 macro-F1 and +6.7 precision on the
        reference's 110 labeled AMiner blocks (measured): without
        them, most non-matching pairs tie at sim 0 and fixed-k HAC
        merges arbitrarily;
      - ``min_title_overlap`` (default 2, reference parity
        ``name_disambiguation.py:971-973``) gates the parity weight:
        ``w_title`` is the overlap when >= this bound, else 0.0.

    Keys with a per-block df above their channel's cap
    (``max_{coauthor,venue,org,token}_df_per_block``) are dropped, from
    the token norms too. Pub ids repeated within a block never pair
    with themselves.
    """
    ids = [str(p) for p in members["pub_id"]]
    n_block = len(ids)
    coauthor: Counter = Counter()
    for rows in _postings(
        members["auth"], config.max_coauthor_df_per_block
    ).values():
        coauthor.update(_pairs(rows, ids))
    venue, org = set(), set()
    for hits, col, cap in (
        (venue, "venue", config.max_venue_df_per_block),
        (org, "org", config.max_org_df_per_block),
    ):
        for rows in _postings(members[col], cap).values():
            hits.update(_pairs(rows, ids))

    tokens = _postings(members["title_toks"], config.max_token_df_per_block)
    sq = {}  # token -> idf^2
    for tok, rows in tokens.items():
        idf = math.log((n_block + 1.0) / len(rows))
        sq[tok] = idf * idf
    terms: dict[str, list[float]] = defaultdict(list)
    for p, toks in zip(ids, members["title_toks"]):
        if toks is not None:
            terms[p].extend(sq[t] for t in toks if t in sq)
    norm2 = {p: math.fsum(t) for p, t in terms.items()}
    shared: dict[tuple[str, str], list[float]] = defaultdict(list)
    for tok, rows in tokens.items():
        for pair in _pairs(rows, ids):
            shared[pair].append(sq[tok])

    gate = max(1, config.min_title_cos_overlap)
    titled = {p for p, t in shared.items() if len(t) >= gate}
    cols: dict[str, list] = {c: [] for c in EDGE_COLUMNS}
    for a, b in sorted(coauthor.keys() | venue | org | titled):
        t = shared.get((a, b), ()) if (a, b) in titled else ()
        na2, nb2 = norm2.get(a, 0.0), norm2.get(b, 0.0)
        cols["id_a"].append(a)
        cols["id_b"].append(b)
        cols["w_coauthor"].append(float(coauthor.get((a, b), 0)))
        cols["w_title"].append(
            float(len(t)) if t and len(t) >= config.min_title_overlap else 0.0
        )
        cols["title_cos"].append(
            math.fsum(t) / (math.sqrt(na2) * math.sqrt(nb2))
            if t and na2 > 0 and nb2 > 0
            else 0.0
        )
        cols["w_venue"].append(1.0 if (a, b) in venue else 0.0)
        cols["w_org"].append(1.0 if (a, b) in org else 0.0)
    pairs = pd.DataFrame(cols, columns=EDGE_COLUMNS)
    cap = config.max_pairs_per_block
    if 0 < cap < len(pairs):
        fused = [
            fuse_scores(co, tc, ve, og, config)
            for co, tc, ve, og in zip(
                cols["w_coauthor"], cols["title_cos"], cols["w_venue"],
                cols["w_org"],
            )
        ]
        # strongest fused evidence first, ties to the smaller pair
        keep = sorted(
            range(len(pairs)),
            key=lambda i: (-fused[i], cols["id_a"][i], cols["id_b"][i]),
        )[:cap]
        pairs = pairs.iloc[sorted(keep)].reset_index(drop=True)
    return pairs


def _edges_block(
    members: pd.DataFrame, config: PipelineConfig
) -> pd.DataFrame:
    pairs = block_pairs(members, config)
    pairs.insert(0, "block_key", members["block_key"].iloc[0])
    return pairs


def combined_edges(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """J4/T2/A1: the combined graph (the reference's graph union summing
    weights, ``name_disambiguation.py:978-988``) as (block_key, id_a,
    id_b, w_coauthor, w_title, title_cos, w_venue, w_org), absent
    relations 0.0. This *is* the sparse combined graph — the reference's
    dense N x N adjacency never exists here.

    One grouped kernel per block over ``member_columns`` running
    ``block_pairs``: the pair half of the match kernel
    (``plans.pipeline.build_match_context``), which the batch path
    runs instead."""
    return (
        pubs.select(*member_columns(pubs, config))
        .groupBy("block_key")
        .applyInPandas(lambda m: _edges_block(m, config), schema=EDGE_SCHEMA)
    )


def token_idf_index(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-block IDF-weighted token index (block_key, pub_id, tok,
    idf, df, n_block) — hot tokens above max_token_df_per_block capped
    out. Feature propagation's (G4) token features:
    idf(tok) = ln((N_block + 1) / df_block(tok))."""
    idx = pubs.select(
        "block_key", "pub_id", F.explode("title_toks").alias("tok")
    )
    # df per (block, token) as a window count; hot tokens capped out
    # of the index.
    dfw = Window.partitionBy("block_key", "tok")
    block_sizes = pubs.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("n_block")
    )
    return (
        idx.withColumn("df", F.count(F.lit(1)).over(dfw))
        .where(F.col("df") <= config.max_token_df_per_block)
        # No broadcast hint: one row per block can itself be huge at
        # 10^12 scale — let AQE pick broadcast when it actually fits.
        .join(block_sizes, "block_key")
        .withColumn("idf", F.log((F.col("n_block") + 1.0) / F.col("df")))
    )
