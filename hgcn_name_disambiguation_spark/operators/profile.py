"""Dataset profiling & preprocessing ops a 100-TB pipeline runs
BEFORE committing to a partitioning strategy (round 5).

Three ops, all integer-valued outputs (cross-engine hash-stable —
the q42/q50 lesson: never emit free doubles):

- ``key_skew_profile`` — the diagnostic you run before choosing a
  shuffle key: per-key counts for the top-N heaviest keys plus the
  global concentration (HHI) of the FULL key distribution. The ER
  pipeline's differentiated salting (clustering.py) and AQE's
  skew-join threshold both reason from exactly this measurement.
- ``rank_normalize`` — per-group percentile-rank feature scaling in
  integer parts-per-million (average rank, so ties share one value
  and the output is invariant to row order/partitioning — the
  scale-free normalization used to mix heterogeneous quality scores
  before training-data selection).
- ``distinctive_terms`` — per-group salient vocabulary: tokens
  ranked by lift = group document frequency relative to corpus
  document frequency (integer ppm) — the cluster/domain labeling
  staple for corpus composition reports.

All ppm columns use exact integral division (`div`) over longs —
never a rounded double. At extreme scale the HHI numerator
(sum(cnt^2) * 1e6) can exceed int64; the 100-TB path is the same
formula over DECIMAL(38,0), noted inline where it applies.

Scale shapes are documented per function; none is all-pairs, none
collects to the driver beyond the requested top-N rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

_PPM = 1_000_000


def key_skew_profile(
    df: DataFrame,
    keys: Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Top-N heaviest keys with exact counts + global skew stats.

    Returns one row per top-N key, ordered by (cnt DESC, key ASC)
    with a deterministic total order:
      (key..., cnt, rank, share_ppm, cum_share_ppm,
       n_rows, n_keys, hhi_ppm, max_over_avg_ppm)
    where hhi_ppm = sum(cnt^2) * 1e6 div n_rows^2 (Herfindahl
    concentration of the FULL key distribution, not just the top-N;
    1e6 = one key holds everything, 1e6/n_keys = perfectly uniform)
    and max_over_avg_ppm = max(cnt) * n_keys * 1e6 div n_rows (the
    hot-key-over-average skew factor). All integers; exact `div`.

    Scale shape: ONE map-side-combined shuffle on the key produces
    the per-key counts; the global stats are one full agg over the
    per-key frame (a single row, broadcast back); the top-N is
    TakeOrderedAndProject (per-partition heap, driver merges top_n
    rows — never a global sort). The per-key frame is
    |distinct keys| rows, never the raw table. Output <= top_n rows
    by construction. At >3e9-row inputs switch the hhi numerator to
    DECIMAL(38,0) — sum(cnt^2)*1e6 can exceed int64 there.
    """
    kcols = [F.col(k) for k in keys]
    counts = df.groupBy(*kcols).agg(F.count(F.lit(1)).alias("cnt"))
    glob = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("_sum_sq"),
        F.max("cnt").alias("_max_cnt"),
    )
    top = counts.orderBy(F.desc("cnt"), *[F.asc(k) for k in keys]).limit(
        top_n
    )
    w = Window.orderBy(F.desc("cnt"), *[F.asc(k) for k in keys])
    ranked = top.select(
        *keys,
        "cnt",
        # windows run over <= top_n rows (post-limit) — bounded.
        F.row_number().over(w).alias("rank"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cum"),
    )
    return ranked.crossJoin(F.broadcast(glob)).select(
        *keys,
        F.col("cnt").cast("long").alias("cnt"),
        F.col("rank").cast("int").alias("rank"),
        F.expr(f"(cnt * {_PPM}) div n_rows").alias("share_ppm"),
        F.expr(f"(_cum * {_PPM}) div n_rows").alias("cum_share_ppm"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.expr(f"(_sum_sq * {_PPM}) div (n_rows * n_rows)").alias(
            "hhi_ppm"
        ),
        F.expr(f"(_max_cnt * n_keys * {_PPM}) div n_rows").alias(
            "max_over_avg_ppm"
        ),
    )


def blocking_stats(
    df: DataFrame,
    schemes: dict[str, Sequence[str]],
) -> DataFrame:
    """Blocking-scheme capacity report (round 5) — the ER textbook
    numbers you compute BEFORE running candidate generation: for each
    proposed blocking key, how many candidate pairs would the scheme
    admit and how much of the quadratic all-pairs space does it prune
    (reduction ratio, Christen 2012). The reference hard-codes ONE
    scheme (the normalized name key); an engine serving many corpora
    needs to measure alternatives before paying for them.

    ``schemes`` maps scheme name -> grouping columns. Returns one row
    per scheme: (scheme, n_items, n_blocks, max_block,
    candidate_pairs, reduction_ratio_ppm) where candidate_pairs =
    sum over blocks of C(size, 2) and reduction_ratio_ppm =
    (total_pairs - candidate_pairs) * 1e6 div total_pairs with
    total_pairs = C(n_items, 2). All integers, exact `div`.

    Scale shape: per scheme ONE map-side-combined count shuffle over
    the key + one single-row agg — the block-size frame, never pairs.
    Rows-with-null keys form their own block per SQL grouping, same
    as the engine's parse-stage behavior.
    """
    outs = []
    for name, keys in schemes.items():
        sizes = df.groupBy(*[F.col(k) for k in keys]).agg(
            F.count(F.lit(1)).alias("n")
        )
        outs.append(
            sizes.agg(
                F.lit(name).alias("scheme"),
                F.sum("n").cast("long").alias("n_items"),
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.max("n").cast("long").alias("max_block"),
                F.sum(F.expr("(n * (n - 1)) div 2"))
                .cast("long")
                .alias("candidate_pairs"),
            )
        )
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged.withColumn(
        "reduction_ratio_ppm",
        F.expr(
            "(((n_items * (n_items - 1)) div 2 - candidate_pairs)"
            " * 1000000) div ((n_items * (n_items - 1)) div 2)"
        ),
    )


def length_histogram(
    df: DataFrame,
    group_col: str,
    length_col: str,
) -> DataFrame:
    """Log2-bucketed length histogram per group (round 5) — the
    sequence-length profile a packing/tokenizer stage reads before
    choosing max_seq_len and bucket boundaries. Bucket = floor(log2
    (len)) for len >= 1 (len <= 0 lands in bucket -1), so bucket b
    covers [2^b, 2^(b+1)). log2 of an exact power of two is exact in
    IEEE, so the floor is cross-engine stable at the boundaries (no
    1e-6-ulp class here — log2(2^k) is representable).

    Returns (group, log2_bucket, n_rows, min_len, max_len) —
    integers only. One map-side-combined agg on (group, bucket);
    output bounded by |groups| * 64 rows.
    """
    bucket = F.when(F.col(length_col) >= 1,
                    F.floor(F.log2(F.col(length_col)))).otherwise(
        F.lit(-1)
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(length_col).alias("_len"),
            bucket.cast("int").alias("log2_bucket"),
        )
        .groupBy("grp", "log2_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("_len").cast("long").alias("min_len"),
            F.max("_len").cast("long").alias("max_len"),
        )
        .select(
            F.col("grp").alias(group_col),
            "log2_bucket",
            "n_rows",
            "min_len",
            "max_len",
        )
    )


def rank_normalize(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group percentile-rank normalization in integer ppm.

    pct_ppm = avg_rank * 1e6 div n, where avg_rank is the AVERAGE
    rank of the value's tie group — ties share one value, so the
    output is a pure function of the VALUE within its group (row
    order and partitioning cannot change it). 2*avg_rank =
    2*min_rank + ties - 1 is always an integer, so the ppm output is
    exact: pct_ppm = (2*min_rank + ties - 1) * 500000 div n.

    Returns (keys..., id_col, value_col, n_in_group, pct_ppm).

    Scale shape: one shuffle on the group key with an in-partition
    sort (rank window) — the same single-exchange shape as any
    per-group window (the tie-count window shares the exchange: its
    partition key is a superset prefix); no driver collection. The
    scale-free output is what lets heterogeneous per-source quality
    scores be mixed into one selection threshold (DSIR/quality-
    filter prep).
    """
    kcols = list(keys)
    w = Window.partitionBy(*kcols).orderBy(F.col(value_col).asc())
    wg = Window.partitionBy(*kcols)
    ranked = df.select(
        *kcols,
        id_col,
        value_col,
        F.rank().over(w).alias("_min_rank"),
        F.count(F.lit(1)).over(wg).alias("_n"),
        F.count(F.lit(1))
        .over(Window.partitionBy(*kcols, value_col))
        .alias("_ties"),
    )
    return ranked.select(
        *kcols,
        id_col,
        value_col,
        F.col("_n").cast("long").alias("n_in_group"),
        F.expr(
            f"((2 * _min_rank + _ties - 1) * {_PPM // 2}) div _n"
        ).alias("pct_ppm"),
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    text_col: str = "text",
    min_group_df: int = 3,
) -> DataFrame:
    """Top-k distinctive tokens per group by document-frequency lift.

    For each (group, token): df_group = #docs in the group containing
    the token (set semantics — distinct per doc), df_corpus = #docs
    anywhere containing it. lift_ppm = df_group * n_docs_corpus *
    1e6 div (df_corpus * n_docs_group) — 1e6 means exactly the
    corpus rate, higher means over-represented in the group. Tokens
    with df_group < min_group_df are dropped (rare-token noise); the
    top-k per group is taken by (lift_ppm DESC, df_group DESC,
    token ASC) — a deterministic total order.

    Returns (group, token, df_group, df_corpus, lift_ppm, rank).

    Scale shape: tokens are array_distinct'd per doc before
    exploding, so both df aggs are map-side combinable; the
    corpus-df frame joins on the token key (one shuffle); the group
    sizes and corpus size are broadcast (|groups| rows and 1 row);
    the top-k rank window runs over the per-group token frame —
    bounded by per-group vocabulary, never corpus size.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.array_distinct(F.split(norm, " "))).alias("token"),
    ).where(F.col("token") != "")
    gdf = toks.groupBy("grp", "token").agg(
        F.count(F.lit(1)).alias("df_group")
    )
    cdf = toks.groupBy("token").agg(F.sum(F.lit(1)).alias("df_corpus"))
    ndocs_g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs_group")
    )
    n_corpus = df.agg(F.count(F.lit(1)).alias("n_docs_corpus"))
    scored = (
        gdf.where(F.col("df_group") >= min_group_df)
        .join(cdf, "token")
        .join(F.broadcast(ndocs_g), "grp")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "grp",
            "token",
            "df_group",
            "df_corpus",
            F.expr(
                f"(df_group * n_docs_corpus * {_PPM})"
                " div (df_corpus * n_docs_group)"
            ).alias("lift_ppm"),
        )
    )
    w = Window.partitionBy("grp").orderBy(
        F.desc("lift_ppm"), F.desc("df_group"), F.asc("token")
    )
    return scored.select(
        F.col("grp").alias(group_col),
        "token",
        F.col("df_group").cast("long").alias("df_group"),
        F.col("df_corpus").cast("long").alias("df_corpus"),
        "lift_ppm",
        F.row_number().over(w).alias("rank"),
    ).where(F.col("rank") <= k)


def mad_anomalies(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str = "doc_id",
    scale: int = 3,
) -> DataFrame:
    """Robust per-group outlier detection via median absolute
    deviation: flag rows where |x - median| > scale * max(MAD, 1) —
    the length/quality screen a curation pipeline runs per source
    before mixing (Hampel filter; Leys et al. 2013).

    Median is EXACT nearest-rank (the value at position (n+1)//2 of
    the sorted group), not an interpolated double, and MAD is the
    nearest-rank median of |x - med| — both are actual data values,
    so every output column is integer-exact and cross-engine
    hash-stable (the q42/q50 rule). max(MAD, 1) guards the MAD=0
    degeneracy (constant-majority groups) from flagging every
    non-modal row.

    Scale shape: two rank windows partitioned by group (the same
    shuffle key, reused), one broadcast join of the |groups|-row
    med/MAD frame back onto the data — no driver collection, no
    doubles. At 100 TB per-group sort is the cost; groups are
    sources (thousands), so each window partition is corpus/|groups|
    and AQE splits stragglers.

    Returns flagged rows only: (id, group, value, med, mad, adev).
    """
    grp, val = F.col(group_col).alias("grp"), F.col(value_col)
    base = df.select(F.col(id_col).alias("rid"), grp, val.alias("v"))

    wrank = Window.partitionBy("grp").orderBy("v")
    wall = Window.partitionBy("grp")
    med = (
        base.select(
            "grp",
            "v",
            F.row_number().over(wrank).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("grp", F.col("v").alias("med"))
    )
    dev = base.join(F.broadcast(med), "grp").withColumn(
        "adev", F.abs(F.col("v") - F.col("med"))
    )
    wrank2 = Window.partitionBy("grp").orderBy("adev")
    mad = (
        dev.select(
            "grp",
            "adev",
            F.row_number().over(wrank2).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("grp", F.col("adev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "grp")
        .where(
            F.col("adev") > F.lit(scale) * F.greatest(F.col("mad"), F.lit(1))
        )
        .select(
            F.col("rid").alias(id_col),
            F.col("grp").alias(group_col),
            F.col("v").cast("long").alias(value_col),
            F.col("med").cast("long").alias("med"),
            F.col("mad").cast("long").alias("mad"),
            F.col("adev").cast("long").alias("adev"),
        )
    )


def token_entropy(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Per-group token-distribution Shannon entropy in integer
    micro-nats (round 5) — the corpus-diversity number a mixing
    report publishes next to composition counts: low entropy flags
    templated/boilerplate-heavy sources, high entropy flags diverse
    ones (Shannon 1948; the nat-denominated form).

        H = ln(N) - (sum_t c_t * ln(c_t)) / N

    over the group's token counts c_t (N = total tokens). Encoding is
    the q50/q59/q66 integer micro-unit pattern: each term contributes
    c_t * floor(1e6 * ln(c_t)) — a BIGINT — and the mean is exact
    integer `div`, so the output is order-insensitive and replays
    bit-for-bit in a second engine (a free-floating DOUBLE mean would
    not; the only residual risk is an ln value within one ulp of a
    1e-6 boundary, ~1e-10 odds per distinct count).

    Returns (group_col, n_tokens, n_distinct_tokens,
    entropy_micro_nats). Scale shape: one map-side-combined count
    shuffle on (group, token) + one per-group agg over the count
    frame — bounded by vocabulary, never corpus size.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(norm, " ")).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("grp", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    g = counts.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        F.sum(
            F.col("c")
            * F.floor(F.lit(1_000_000.0) * F.log(F.col("c"))).cast("long")
        ).alias("_s"),
    )
    return g.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "n_distinct_tokens",
        (
            F.floor(F.lit(1_000_000.0) * F.log(F.col("n_tokens"))).cast(
                "long"
            )
            - F.expr("_s div n_tokens")
        ).alias("entropy_micro_nats"),
    )
