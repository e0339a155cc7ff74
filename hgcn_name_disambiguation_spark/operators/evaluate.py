"""M5 — pairwise P/R/F1 in closed form (SURVEY §2.3 J7, §2.9 G10).

The reference loops over all O(n^2) index pairs of each name block
(``name_disambiguation.py:111-133``). Identical result via group-size
combinatorics, in one per-block kernel, no pair materialization:

    pairs(g)   = C(n_g, 2) = n_g * (n_g - 1) / 2
    TP + FN    = sum over truth groups of pairs(g)
    TP + FP    = sum over predicted groups of pairs(g)
    TP         = sum over (truth, pred) cells of pairs(g)

precision = TP/(TP+FP), recall = TP/(TP+FN), F1 harmonic mean —
exactly the reference's formulas at ``:128-133``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

_PRF_COLS = ["tp", "tp_fp", "tp_fn", "precision", "recall", "f1"]


def _prf_block(pdf: pd.DataFrame) -> pd.DataFrame:
    """One block's (block_key, truth, pred) rows -> its metrics row. A
    null prediction is its own group, as in SQL ``groupBy``. Each C(n, 2)
    is an integer-valued double, so the sums are exact in any order."""

    def pairs(keys) -> float:
        n = pdf.groupby(keys, dropna=False).size()
        return float((n * (n - 1) / 2.0).sum())

    tp, tp_fp, tp_fn = pairs(["truth", "pred"]), pairs("pred"), pairs("truth")
    p = tp / tp_fp if tp_fp > 0 else 1.0
    r = tp / tp_fn if tp_fn > 0 else 1.0
    f1 = 2 * p * r / (p + r) if p + r > 0 else 0.0
    row = [pdf["block_key"].iloc[0], tp, tp_fp, tp_fn, p, r, f1]
    return pd.DataFrame([row], columns=["block_key", *_PRF_COLS])


def pairwise_metrics(
    clustered: DataFrame,
    truth_col: str = "label",
    pred_col: str = "cluster_id",
) -> DataFrame:
    """clustered pubs -> per-block precision/recall/F1 with the pair
    counts behind them (block_key, tp, tp_fp, tp_fn, precision, recall,
    f1), one ``groupBy("block_key").applyInPandas`` kernel.

    Rows with null truth labels are excluded (unlabeled mode).
    """
    schema = StructType(
        [clustered.schema["block_key"]]
        + [StructField(c, DoubleType()) for c in _PRF_COLS]
    )
    return (
        clustered.where(F.col(truth_col).isNotNull())
        .select(
            "block_key", F.col(truth_col).alias("truth"), F.col(pred_col).alias("pred")
        )
        .groupBy("block_key")
        .applyInPandas(_prf_block, schema)
    )


def metrics_summary(per_block: DataFrame) -> DataFrame:
    """A8: NaN-safe averages across blocks — mirrors the reference's
    CSV summary row (``name_disambiguation.py:1272-1291``)."""
    ok = per_block.where(
        ~F.isnan("f1") & F.col("f1").isNotNull()
    )
    return ok.agg(
        F.avg("precision").alias("avg_precision"),
        F.avg("recall").alias("avg_recall"),
        F.avg("f1").alias("avg_f1"),
        F.count(F.lit(1)).alias("n_blocks"),
    )


def clustering_agreement(
    a: DataFrame,
    b: DataFrame,
    block_col: str = "block_key",
    id_col: str = "pub_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Pair-level agreement between two clusterings of the same items
    (round 5) — the drift/stability report an ER pipeline publishes
    when a threshold, model, or code version changes: how many item
    PAIRS stayed together, were split, were merged, stayed apart.

    Same closed form as pairwise_metrics (the reference's O(n^2)
    pair loop, ``name_disambiguation.py:111-133``, done with
    group-size combinatorics) but label-symmetric and INTEGER-exact:

        pairs_total     = C(n, 2)            per block
        pairs_a/pairs_b = sum C(size, 2)     within each clustering
        both_same       = sum over (ca, cb) cells of C(size, 2)
        split  = pairs_a - both_same   (together in A, apart in B)
        merged = pairs_b - both_same   (apart in A, together in B)
        both_diff = total - pairs_a - pairs_b + both_same
        rand_ppm  = (both_same + both_diff) * 1e6 div total

    Cluster LABELS never compare across the two sides — only
    co-membership does — so the metric is invariant to labeling
    scheme (CC min-id vs dense re-index vs anything else).

    Returns one row per block with the integer pair counts plus
    rand_ppm (Rand index in parts-per-million, exact `div`). Blocks
    with < 2 items are dropped (no pairs to agree on).

    Scale shape: an inner join on (block, id) followed by three
    map-side-combinable count aggs over cluster-size frames — the
    contingency table is |clusters_a x clusters_b touched| rows per
    block, never the O(n^2) pair set.
    """
    ca = a.select(
        F.col(block_col).alias("bk"),
        F.col(id_col).alias("iid"),
        F.col(cluster_col).alias("_ca"),
    )
    cb = b.select(
        F.col(block_col).alias("bk"),
        F.col(id_col).alias("iid"),
        F.col(cluster_col).alias("_cb"),
    )
    j = ca.join(cb, ["bk", "iid"])

    def _pairs(grouped, out: str) -> DataFrame:
        # n*(n-1) is always even: exact integer division, no doubles.
        return grouped.agg(
            F.sum(F.expr("(n * (n - 1)) div 2")).cast("long").alias(out)
        )

    cell = j.groupBy("bk", "_ca", "_cb").agg(F.count(F.lit(1)).alias("n"))
    both_same = _pairs(cell.groupBy("bk"), "pairs_both_same")
    sa = j.groupBy("bk", "_ca").agg(F.count(F.lit(1)).alias("n"))
    pa = _pairs(sa.groupBy("bk"), "pairs_a")
    sb = j.groupBy("bk", "_cb").agg(F.count(F.lit(1)).alias("n"))
    pb = _pairs(sb.groupBy("bk"), "pairs_b")
    tot = j.groupBy("bk").agg(F.count(F.lit(1)).alias("n_items"))
    out = (
        tot.join(pa, "bk")
        .join(pb, "bk")
        .join(both_same, "bk")
        .where(F.col("n_items") >= 2)
        .select(
            F.col("bk").alias(block_col),
            F.col("n_items").cast("long").alias("n_items"),
            F.expr("(n_items * (n_items - 1)) div 2").alias(
                "pairs_total"
            ),
            "pairs_a",
            "pairs_b",
            "pairs_both_same",
        )
        .withColumn(
            "pairs_split", F.expr("pairs_a - pairs_both_same")
        )
        .withColumn(
            "pairs_merged", F.expr("pairs_b - pairs_both_same")
        )
        .withColumn(
            "pairs_both_diff",
            F.expr(
                "pairs_total - pairs_a - pairs_b + pairs_both_same"
            ),
        )
        .withColumn(
            "rand_ppm",
            F.expr(
                "((pairs_both_same + pairs_both_diff) * 1000000)"
                " div pairs_total"
            ),
        )
    )
    return out


def fs_channel_weights(compared: DataFrame) -> DataFrame:
    """Fellegi–Sunter (JASA 1969) m/u estimation over LABELED compared
    pairs — the theory underlying the reference's fused evidence
    weights (scoring.py F7: the hand-set (5A+1T+4V)/10 is an ad-hoc FS
    weight vector; this operator MEASURES the principled one from a
    labeled sample).

    Input: one row per (pair, channel) with
      truth   bool — the pair is a true match (same entity)
      channel str  — comparator name (e.g. 'coauthor', 'cos05')
      agree   bool — the comparator fired on this pair (gamma = 1)

    Per channel: m = P(agree | match), u = P(agree | unmatch), and the
    FS agreement weight ln(m/u). Encoding is the engine's exact-integer
    rule (q42/q50/q75): counts and ppm ratios are integer-exact;
    weight_micro_nats is composed from per-INTEGER-count ln terms
    (floor(1e6·ln c), the q75 idiom) so both engines floor the same
    scalar lns rather than one accumulated double:

      weight = fln(max(m_num,1)) - fln(n_match)
             - fln(max(u_num,1)) + fln(n_unmatch)

    Zero-agreement cells are clamped to 1 (the standard +epsilon FS
    smoothing) — the clamp is visible in the raw counts alongside.

    Scale shape: ONE map-side-combined agg on the channel key; the
    pair frame never re-shuffles. FS estimation runs on a labeled
    SAMPLE by construction (labels are the scarce resource), so the
    input is bounded regardless of corpus size.

    Returns (channel, n_match, n_unmatch, m_num, u_num, m_ppm, u_ppm,
    weight_micro_nats), all integer columns.
    """

    def fln(col):
        return F.floor(F.lit(1_000_000) * F.log(col)).cast("long")

    agg = compared.groupBy("channel").agg(
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).alias("n_match"),
        F.sum(F.when(~F.col("truth"), 1).otherwise(0)).alias("n_unmatch"),
        F.sum(
            F.when(F.col("truth") & F.col("agree"), 1).otherwise(0)
        ).alias("m_num"),
        F.sum(
            F.when(~F.col("truth") & F.col("agree"), 1).otherwise(0)
        ).alias("u_num"),
    )
    return agg.select(
        "channel",
        "n_match",
        "n_unmatch",
        "m_num",
        "u_num",
        F.expr("m_num * 1000000 DIV greatest(n_match, 1)").alias("m_ppm"),
        F.expr("u_num * 1000000 DIV greatest(n_unmatch, 1)").alias("u_ppm"),
        (
            fln(F.greatest("m_num", F.lit(1)))
            - fln(F.greatest("n_match", F.lit(1)))
            - fln(F.greatest("u_num", F.lit(1)))
            + fln(F.greatest("n_unmatch", F.lit(1)))
        ).alias("weight_micro_nats"),
    )
