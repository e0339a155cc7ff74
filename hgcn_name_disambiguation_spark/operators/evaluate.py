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
