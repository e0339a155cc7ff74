"""M2 — candidate pair/edge generation (SURVEY §2.3 J1-J4, §2.4 A1-A2).

The reference builds three per-block publication graphs with nested
Python loops (O(n^2) per block):
- co-author  Ga: ``name_disambiguation.py:876-917``
- co-venue   Gv: ``name_disambiguation.py:919-957``
- co-title   Gt: ``name_disambiguation.py:959-976`` (weight =
  |stemmed-token-set intersection|, kept iff >= 2)
- combined    G: union summing weights, ``:978-988``

Spark-first design: every pair construction becomes an **inverted-index
equi-self-join** — explode the shared attribute, join on
``(block_key, attr)`` with ``id_a < id_b``, then hash-aggregate to
per-relation weights. This turns the theta-join into a shuffle
equi-join whose cost is bounded by attribute co-occurrence, not n^2.

Scale levers (explicit, per north_rule):
- **hot-key caps**: an attribute value shared by k pubs emits C(k,2)
  pairs; values with per-block document frequency above a cap are
  dropped from the index and *counted* (never silent). At 10^12 rows
  this is what keeps "Unknown venue"/"the"-grade keys from exploding.
- **skew**: AQE skew-join splitting is on (session factory); the pair
  frame is additionally hash-repartitioned on (block_key, id_a) so one
  mega-block ("john smith") spreads over all tasks downstream.
- join strategy: these are shuffle sort-merge/hash joins keyed by
  (block_key, attr) — exactly what Catalyst picks; no hints needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions.names import block_key as _name_key


def _plain_self_pairs(
    index: DataFrame,
    key_cols: list[str],
    payload_cols: tuple[str, ...],
    bcast: bool = False,
) -> DataFrame:
    a = index.alias("a")
    b = F.broadcast(index).alias("b") if bcast else index.alias("b")
    cond = F.col("a.block_key") == F.col("b.block_key")
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    cond = cond & (F.col("a.pub_id") < F.col("b.pub_id"))
    out = [
        F.col("a.block_key").alias("block_key"),
        F.col("a.pub_id").alias("id_a"),
        F.col("b.pub_id").alias("id_b"),
    ]
    for c in payload_cols:
        out += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    return a.join(b, cond, "inner").select(*out)


def _pairs_from_index(
    index: DataFrame,
    key_cols: list[str],
    payload_cols: tuple[str, ...] = (),
    config: PipelineConfig | None = None,
    df_col: str | None = None,
    bcast: bool = False,
) -> DataFrame:
    """Self-join an inverted index on (block_key, key_cols); emit
    canonical pairs (id_a < id_b), carrying payload_cols as _a/_b.

    Skew handling is differentiated (explicit, per north_rule — AQE
    skew-join splitting stays on as the runtime backstop): keys whose
    per-block df exceeds config.salt_df_threshold take the salted
    replicated join (split into salt_buckets sub-keys); everything
    else takes the plain equi-join. df_col names a per-(block, key) df
    column the caller already computed (the hot-key-cap pass), so the
    split costs a filter, not a shuffle. Results are identical to the
    unsalted join — asserted by the salt-invariance test.

    ``bcast=True`` (callers decide it from the index's MEASURED size,
    _materialize_index) hints the probe side of each self-join into a
    broadcast — the join then adds no exchange at all; salting stays
    in place for the shuffle fallback at real scale.
    """
    if (
        config is None
        or config.salt_buckets <= 1
        or config.salt_df_threshold <= 0
        or df_col is None
    ):
        return _plain_self_pairs(index, key_cols, payload_cols, bcast)

    # The builders already computed per-(block, key) df for the hot-key
    # caps, so the hot/cold split costs a per-row CASE, not a shuffle.
    # ONE join serves both tiers (round-6): a key's salt-bucket count
    # is 1 when cold (explode yields [0], pmod(h, 1) = 0 — no
    # replication, every pair meets exactly once) and `salt_buckets`
    # when hot. The former cold/hot branch pair re-executed the whole
    # index subtree — including the df window above its shared
    # exchange — once per branch per side (stage metrics showed the
    # window+join stage duplicated at ~2s each in combined_edges).
    thr = config.salt_df_threshold
    nb = F.when(
        F.col(df_col) > thr, F.lit(config.salt_buckets)
    ).otherwise(F.lit(1))
    b = index.withColumn("_sb", F.pmod(F.xxhash64("pub_id"), nb))
    b = (F.broadcast(b) if bcast else b).alias("b")
    a = index.withColumn(
        "_tb", F.explode(F.sequence(F.lit(0), nb - 1))
    ).alias("a")
    cond = (F.col("a.block_key") == F.col("b.block_key")) & (
        F.col("a._tb") == F.col("b._sb")
    )
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    cond = cond & (F.col("a.pub_id") < F.col("b.pub_id"))
    out = [
        F.col("a.block_key").alias("block_key"),
        F.col("a.pub_id").alias("id_a"),
        F.col("b.pub_id").alias("id_b"),
    ]
    for c in payload_cols:
        out += [F.col(f"a.{c}").alias(f"{c}_a"), F.col(f"b.{c}").alias(f"{c}_b")]
    return a.join(b, cond, "inner").select(*out)


def _cap_hot_keys(
    index: DataFrame, key_cols: list[str], max_df: int
) -> tuple[DataFrame, DataFrame]:
    """Drop attribute values whose per-block df exceeds max_df.

    Returns (kept_index, dropped_keys) — dropped_keys carries the df so
    lineage can count what was truncated.

    df rides in as a WINDOW count over (block_key, key) rather than a
    groupBy + join-back (round-6, guide §2.4): the join-back
    duplicated the whole index subtree, and because every downstream
    consumer (cold self-join side a/b, salted side a/b) now sits above
    ONE canonically identical window exchange, Catalyst's
    ReuseExchange materializes the index — scan, tokenize/explode,
    shuffle — exactly once per channel instead of four times.
    """
    w = Window.partitionBy("block_key", *key_cols)
    counted = index.withColumn("df", F.count(F.lit(1)).over(w))
    kept = counted.where(F.col("df") <= max_df)
    dropped = (
        counted.where(F.col("df") > max_df)
        .select("block_key", *key_cols, "df")
        .distinct()
    )
    return kept, dropped


def coauthor_edges(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """J2: pubs sharing a coauthor; weight = #shared coauthors.

    The focal (blocked) author appears on every record and is excluded
    — the reference's authorlist files likewise pair on *co*-authors
    only (``openAlex_to_HGCN.py:299-308``; we follow the intended
    cross-pub semantics, not the self-pair bug at ``:308``).

    Coauthor names are normalized to the same first+last key as the
    blocking key (P5 semantics, ``openAlex_to_HGCN.py:49-91``) before
    matching: middle-initial variants ("David M. Engman" vs "David
    Engman") join, and — critically — the focal author is excluded
    under ANY of their name variants; with raw-string matching a
    middle-initialed focal name would evade the exclusion and hand
    every pair in the block a free coauthor edge.
    """
    idx = (
        pubs.select(
            "block_key",
            "pub_id",
            F.explode("authors").alias("author"),
        )
        .withColumn("author", _name_key(F.col("author")))
        .where(
            F.col("author").isNotNull()
            & (F.col("author") != "")
            & (F.col("author") != F.col("block_key"))
        )
        .dropDuplicates(["block_key", "pub_id", "author"])
    )
    idx, _ = _cap_hot_keys(idx, ["author"], config.max_coauthor_df_per_block)
    pairs = _pairs_from_index(idx, ["author"], config=config, df_col="df")
    return pairs.groupBy("block_key", "id_a", "id_b").agg(
        F.count(F.lit(1)).cast("double").alias("w_coauthor")
    )


def venue_edges(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """J3: pubs with equal (non-null) venue; weight 1
    (``name_disambiguation.py:930-948``)."""
    idx = pubs.where(F.col("venue").isNotNull()).select(
        "block_key", "pub_id", "venue"
    )
    idx, _ = _cap_hot_keys(idx, ["venue"], config.max_venue_df_per_block)
    pairs = _pairs_from_index(idx, ["venue"], config=config, df_col="df")
    return pairs.groupBy("block_key", "id_a", "id_b").agg(
        F.lit(1.0).alias("w_venue")
    )


def org_edges(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Org exact-match evidence: pubs whose normalized affiliation
    strings are equal; weight 1.

    The reference PARSES ``organization`` (``name_disambiguation.py:
    828``, ``openAlex_to_HGCN.py:260``) but never feeds it to any
    graph — this channel is a deliberate engine extension (the
    north-star's "Jaro-Winkler/Levenshtein over title/org/coauthor
    features" names org explicitly). Same inverted-index equi-join +
    hot-key-cap shape as venues. Disabled implicitly when the input
    has no usable org strings (the index is just empty).
    """
    org_norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("org"), r"[^\p{L}\p{N}\s]+", " "),
            r"\s+",
            " ",
        )
    )
    idx = (
        pubs.where(F.col("org").isNotNull())
        .select("block_key", "pub_id", org_norm.alias("org"))
        .where(
            (F.length("org") > 3)
            # placeholder affiliations are NOT evidence: the AMiner
            # corpus carries 1476 literal "Unknown" orgs — treating
            # them as equal would weld every unknown-org pub in a
            # block into one false 0.4-score clique.
            & ~F.col("org").isin(*config.venue_null_values)
        )
    )
    idx, _ = _cap_hot_keys(idx, ["org"], config.max_org_df_per_block)
    pairs = _pairs_from_index(idx, ["org"], config=config, df_col="df")
    return pairs.groupBy("block_key", "id_a", "id_b").agg(
        F.lit(1.0).alias("w_org")
    )


def token_idf_index(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-block IDF-weighted token index (block_key, pub_id, tok,
    idf, df, n_block) — hot tokens above max_token_df_per_block capped
    out. Shared by title_edges (J1) and feature propagation (G4):
    idf(tok) = ln((N_block + 1) / df_block(tok))."""
    idx = pubs.select(
        "block_key", "pub_id", F.explode("title_toks").alias("tok")
    )
    # df per (block, token) as a WINDOW count (one exchange the whole
    # downstream — self-join sides, norm window — shares via
    # ReuseExchange; the former groupBy + join-back re-executed the
    # exploded index per consumer); hot tokens capped out of the index.
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


def title_edges(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """J1/T1: raw weight = |stemmed-token-set intersection|, kept iff
    >= min_title_overlap (``name_disambiguation.py:959-976``), plus an
    IDF-weighted cosine (``title_cos``) — the north-star's TF-IDF
    similarity standing in for the reference's learned title channel.

    Inverted token index -> equi-join -> hash agg. Per-pair count ==
    set-intersection size because title_toks is distinct per pub.
    idf(tok) = ln((N_block + 1) / df_block(tok)); cosine over the
    per-pub idf vectors is scale-free in [0,1], so generic (high-df)
    tokens stop mattering at any block size — no magic constants that
    break when a block is 100x bigger.

    Two overlap gates, deliberately different:
    - ``min_title_cos_overlap`` (default 1) gates the EDGE: pairs with
      at least this many shared non-hot tokens get a ``title_cos``
      row. Keeping single-token cosines is worth +1.7 macro-F1 and
      +6.7 precision on the reference's 110 labeled AMiner blocks
      (measured): without them, most non-matching pairs tie at sim 0
      and fixed-k HAC merges arbitrarily.
    - ``min_title_overlap`` (default 2, reference parity
      ``name_disambiguation.py:971-973``) gates the PARITY WEIGHT:
      ``w_title`` is the intersection size when >= this bound, else
      0.0 (the reference's Gt edge does not exist below it).
    Candidate volume at the shuffle is unchanged — the inverted index
    emits 1-token pairs either way; only post-agg retention differs,
    still bounded by the hot-token cap.
    """
    weighted = token_idf_index(pubs, config)
    # Per-pub idf-vector norm INLINE via a window (same shuffle key a
    # separate groupBy branch would use) so it rides the self-join as
    # payload. The alternative — a norms frame joined back onto the
    # aggregated pairs twice — re-executes the whole index subtree two
    # more times (measured 3x query cost at sf0.1; Catalyst only
    # reuses exchanges for canonically identical subplans, and the
    # post-agg join branches aren't).
    norm_w = Window.partitionBy("block_key", "pub_id")
    tok_index = weighted.withColumn(
        "norm", F.sqrt(F.sum(F.col("idf") * F.col("idf")).over(norm_w))
    ).select("block_key", "tok", "pub_id", "idf", "norm", "df")
    pairs = _pairs_from_index(
        tok_index,
        ["tok"],
        payload_cols=("idf", "norm"),
        config=config,
        df_col="df",
    ).withColumn("dot_term", F.col("idf_a") * F.col("idf_b"))
    return (
        pairs.groupBy("block_key", "id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("double").alias("overlap"),
            F.sum("dot_term").alias("dot"),
            F.first("norm_a").alias("norm_a"),
            F.first("norm_b").alias("norm_b"),
        )
        .where(F.col("overlap") >= max(1, config.min_title_cos_overlap))
        .withColumn(
            "w_title",
            F.when(
                F.col("overlap") >= config.min_title_overlap,
                F.col("overlap"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "title_cos",
            F.when(
                (F.col("norm_a") > 0) & (F.col("norm_b") > 0),
                F.col("dot") / (F.col("norm_a") * F.col("norm_b")),
            ).otherwise(F.lit(0.0)),
        )
        .select("block_key", "id_a", "id_b", "w_title", "title_cos")
    )


# unified multi-channel index type tags (tinyint — narrow shuffle key,
# guide §2.3); values never leave this module
_TYP_AUTHOR, _TYP_VENUE, _TYP_ORG, _TYP_TOK = 1, 2, 3, 4


def _unified_channel_index(
    pubs: DataFrame, config: PipelineConfig
) -> DataFrame:
    """ONE inverted index covering every relation channel:
    (block_key, pub_id, typ, key, df, idf, norm).

    Round-6 second pass (guide §2.4 "remove shuffles outright", §6 one
    scan): the per-channel builders each re-scanned ``pubs`` and paid
    their own df-window exchange + self-join + pair aggregation —
    4 scans / ~4 index exchanges / 4 pair aggs for the combined graph.
    Exploding ALL channel keys from one scan into a typed (typ, key)
    index collapses that to one scan, one window exchange, and one
    pair aggregation. The index stays lazy: the window's exchange is
    shared by the norms branch and both self-join sides through
    ReuseExchange, so the join adds no exchange of its own.

    Per-channel semantics are preserved exactly:
    - author keys: normalized via the blocking-key function, focal
      author excluded under any variant, de-duplicated per pub
      (``array_distinct`` == the former dropDuplicates);
    - venue / org keys: same null / placeholder / length filters;
    - token keys: ``title_toks`` as-is (distinct per pub upstream);
    - per-channel hot-key caps ride as a CASE over ``typ`` against the
      SAME window df the former per-channel windows computed;
    - tok rows carry idf = ln((n_block + 1) / df); the per-pub
      idf-vector norms live in a separate tiny frame
      (``_pub_token_norms``) that combined_edges re-attaches AFTER the
      pair aggregation, so index rows never pay a norms exchange.
    """
    empty = F.array().cast("array<string>")

    def entries(typ: int, keys_arr) -> "F.Column":
        return F.transform(
            F.coalesce(keys_arr, empty),
            lambda k: F.struct(
                F.lit(typ).cast("tinyint").alias("typ"), k.alias("key")
            ),
        )

    auth_keys = F.filter(
        F.array_distinct(F.transform(F.col("authors"), _name_key)),
        lambda a: a.isNotNull()
        & (a != F.lit(""))
        & (a != F.col("block_key")),
    )
    venue_keys = F.filter(
        F.array(F.col("venue")), lambda v: v.isNotNull()
    )
    tok_keys = F.col("title_toks")
    parts = [
        entries(_TYP_AUTHOR, auth_keys),
        entries(_TYP_VENUE, venue_keys),
    ]
    if "org" in pubs.columns:
        org_norm = F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("org"), r"[^\p{L}\p{N}\s]+", " "),
                r"\s+",
                " ",
            )
        )
        org_keys = F.filter(
            F.array(org_norm),
            lambda o: o.isNotNull()
            & (F.length(o) > 3)
            & ~o.isin(*config.venue_null_values),
        )
        parts.append(entries(_TYP_ORG, org_keys))
    parts.append(entries(_TYP_TOK, tok_keys))

    idx = pubs.select(
        "block_key", "pub_id", F.explode(F.concat(*parts)).alias("e")
    ).select(
        "block_key",
        "pub_id",
        F.col("e.typ").alias("typ"),
        F.col("e.key").alias("key"),
    )

    # per-(block, typ, key) df as ONE window count; the per-channel
    # caps become a row-level CASE against the same df. The n_block
    # join sits BELOW the window on purpose: a broadcast (or, at real
    # scale, shuffle) join there leaves the window's
    # (block, typ, key) hash partitioning as the index's output
    # partitioning, which the self-join keys are a superset of — so
    # the self-join adds NO exchange at any scale.
    dfw = Window.partitionBy("block_key", "typ", "key")
    cap = (
        F.when(
            F.col("typ") == _TYP_AUTHOR,
            F.lit(config.max_coauthor_df_per_block),
        )
        .when(F.col("typ") == _TYP_VENUE, F.lit(config.max_venue_df_per_block))
        .when(F.col("typ") == _TYP_ORG, F.lit(config.max_org_df_per_block))
        .otherwise(F.lit(config.max_token_df_per_block))
    )
    block_sizes = pubs.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("n_block")
    )
    # No broadcast hint (token_idf_index note): AQE picks broadcast
    # when block_sizes actually fits.
    idx = (
        idx.join(block_sizes, "block_key")
        .withColumn("df", F.count(F.lit(1)).over(dfw))
        .where(F.col("df") <= cap)
        .withColumn(
            "idf",
            F.when(
                F.col("typ") == _TYP_TOK,
                F.log((F.col("n_block") + 1.0) / F.col("df")),
            ),
        )
        .drop("n_block")
    )
    # Fully lazy on purpose (measured): an eager checkpoint of the
    # index pays a full extra write+read pass over index rows (index
    # rows >> pair rows — ~10% slower at 8x bench volume); the lazy
    # form shares the window's exchange across the norms branch and
    # both self-join sides via ReuseExchange. Per-pub idf norms are
    # NOT attached here — combined_edges re-attaches them after the
    # pair aggregation, where only pair rows (not every index row)
    # cross the join.
    return idx


def _pub_token_norms(idx: DataFrame) -> DataFrame:
    """Per-pub idf-vector SQUARED norm from the unified index's token
    rows — (block_key, pub_id, _n2). Derived from the index subtree, so
    its exchange is shared with the self-join sides via ReuseExchange."""
    return (
        idx.where(F.col("typ") == _TYP_TOK)
        .groupBy("block_key", "pub_id")
        .agg(F.sum(F.col("idf") * F.col("idf")).alias("_n2"))
    )


def combined_edges(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """J4/T2/A1: full-outer merge of the three relation edge frames
    (the reference's graph union summing weights,
    ``name_disambiguation.py:978-988``).

    Returns (block_key, id_a, id_b, w_coauthor, w_title, w_venue) with
    absent relations as 0.0. This *is* the sparse combined graph — the
    reference's dense N x N adjacency never exists here.

    Round-6 second pass: computed from ONE typed multi-channel index
    (``_unified_channel_index``) through ONE self-join and ONE pair
    aggregation — the per-channel union-of-aggregates formulation
    (still available as coauthor_edges/venue_edges/title_edges/
    org_edges, which the unit tests pin channel-by-channel) paid
    4 scans + 4 per-channel aggs + a 4-way union + a final merge agg.
    Identical output multiset: channels cannot cross-match (typ is a
    join key) and every per-channel weight/gate is reproduced as a
    conditional aggregate over the same matched rows.

    ``config.max_pairs_per_block > 0`` caps candidate pairs per block,
    keeping the strongest-evidence pairs (fused-weight desc,
    deterministic tiebreak); truncation is COUNTED via ``observe()``
    (metric ``pairs_truncated`` on observation ``pair_cap_metrics``) —
    never silent. The cap is the last-resort safety valve for a block
    that survives every hot-key cap yet still explodes; default 0 (off).
    """
    side = _unified_channel_index(pubs, config)
    pairs = _pairs_from_index(
        side,
        ["typ", "key"],
        payload_cols=("typ", "idf"),
        config=config,
        df_col="df",
    )
    is_tok = F.col("typ_a") == _TYP_TOK
    agg = pairs.groupBy("block_key", "id_a", "id_b").agg(
        F.coalesce(
            F.sum(F.when(F.col("typ_a") == _TYP_AUTHOR, F.lit(1.0))),
            F.lit(0.0),
        ).alias("w_coauthor"),
        F.sum(F.when(is_tok, F.lit(1.0))).alias("_overlap"),
        F.sum(F.when(is_tok, F.col("idf_a") * F.col("idf_b"))).alias("_dot"),
        F.max(F.when(F.col("typ_a") == _TYP_VENUE, F.lit(1.0))).alias(
            "_venue"
        ),
        F.max(F.when(F.col("typ_a") == _TYP_ORG, F.lit(1.0))).alias("_org"),
    )
    # per-pub idf norms re-attached on the AGGREGATED pairs — only
    # pair rows cross these joins (index rows stay inside the one
    # shared exchange); AQE broadcasts the norms frame when it fits
    norms = _pub_token_norms(side)
    agg = agg.join(
        norms.select(
            "block_key",
            F.col("pub_id").alias("id_a"),
            F.col("_n2").alias("_na2"),
        ),
        ["block_key", "id_a"],
        "left",
    ).join(
        norms.select(
            "block_key",
            F.col("pub_id").alias("id_b"),
            F.col("_n2").alias("_nb2"),
        ),
        ["block_key", "id_b"],
        "left",
    )
    # post-agg channel gates — the exact title_edges/venue_edges
    # per-channel semantics, applied to the conditional aggregates:
    # the title channel only EXISTS for a pair when its token overlap
    # clears min_title_cos_overlap (title_edges drops sub-gate pairs
    # before the merge), so both w_title and title_cos are gated on it,
    # and a pair whose ONLY matches are sub-gate token rows contributes
    # no output row at all (the former union never saw it).
    cos_gate = F.lit(float(max(1, config.min_title_cos_overlap)))
    has_title = F.col("_overlap") >= cos_gate
    agg = agg.where(
        (F.col("w_coauthor") > 0)
        | F.col("_venue").isNotNull()
        | F.col("_org").isNotNull()
        | has_title
    )
    edges = agg.select(
        "block_key",
        "id_a",
        "id_b",
        "w_coauthor",
        F.when(
            has_title
            & (F.col("_overlap") >= F.lit(float(config.min_title_overlap))),
            F.col("_overlap"),
        )
        .otherwise(F.lit(0.0))
        .alias("w_title"),
        F.when(
            has_title & (F.col("_na2") > 0) & (F.col("_nb2") > 0),
            # sqrt(n2) == the former per-pub `norm` column bit-for-bit
            F.col("_dot") / (F.sqrt("_na2") * F.sqrt("_nb2")),
        )
        .otherwise(F.lit(0.0))
        .alias("title_cos"),
        F.coalesce(F.col("_venue"), F.lit(0.0)).alias("w_venue"),
        F.coalesce(F.col("_org"), F.lit(0.0)).alias("w_org"),
    )
    # No trailing repartition: the groupBy above already hash-partitioned
    # on (block_key,id_a,id_b) and AQE re-splits any skewed partition.
    if config.max_pairs_per_block > 0:
        cap = config.max_pairs_per_block
        # Rank by the SAME fused expression scoring.fuse_scores applies
        # (least(1,·) squashing, published 5/1/4 weights, org term) so
        # the pairs the cap keeps are the strongest by actual fused
        # score — raw coauthor counts must not dominate, and org-only
        # evidence must not rank as zero.
        fused = (
            config.w_coauthor * F.least(F.lit(1.0), F.col("w_coauthor"))
            + config.w_title * F.col("title_cos")
            + config.w_venue * F.least(F.lit(1.0), F.col("w_venue"))
            + config.w_org * F.least(F.lit(1.0), F.col("w_org"))
        ) / F.lit(config.weight_norm)
        rank_w = Window.partitionBy("block_key").orderBy(
            F.desc(fused),
            F.asc("id_a"),
            F.asc("id_b"),
        )
        edges = (
            edges.withColumn("_rn", F.row_number().over(rank_w))
            .observe(
                "pair_cap_metrics",
                F.sum(
                    F.when(F.col("_rn") > cap, 1).otherwise(0)
                ).alias("pairs_truncated"),
                F.count(F.lit(1)).alias("pairs_before_cap"),
            )
            .where(F.col("_rn") <= cap)
            .drop("_rn")
        )
    return edges
