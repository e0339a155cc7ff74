"""Closed-form pairwise P/R/F1 vs the reference's O(n^2) formula
re-implemented as oracle (name_disambiguation.py:111-133)."""

import itertools
import random

from hypothesis import example, given, settings, strategies as st

from hgcn_name_disambiguation_spark.operators.evaluate import pairwise_metrics


def _oracle_prf(truth, pred):
    tp = tp_fp = tp_fn = 0
    for i, j in itertools.combinations(range(len(truth)), 2):
        same_t = truth[i] == truth[j]
        same_p = pred[i] == pred[j]
        tp += same_t and same_p
        tp_fp += same_p
        tp_fn += same_t
    p = tp / tp_fp if tp_fp else 1.0
    r = tp / tp_fn if tp_fn else 1.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return p, r, f1


def test_pairwise_metrics_matches_bruteforce(spark):
    rng = random.Random(3)
    rows = []
    expected = {}
    for b in ["blk1", "blk2"]:
        truth = [rng.randrange(4) for _ in range(30)]
        pred = [t if rng.random() < 0.8 else rng.randrange(4) for t in truth]
        expected[b] = _oracle_prf(truth, pred)
        rows += [(b, f"p{i}", t, f"c{p}") for i, (t, p) in enumerate(zip(truth, pred))]

    df = spark.createDataFrame(rows, ["block_key", "pub_id", "label", "cluster_id"])
    got = {r.block_key: (r.precision, r.recall, r.f1)
           for r in pairwise_metrics(df).collect()}
    for b, (p, r_, f1) in expected.items():
        gp, gr, gf = got[b]
        assert abs(gp - p) < 1e-9 and abs(gr - r_) < 1e-9 and abs(gf - f1) < 1e-9


_label = st.one_of(st.none(), st.integers(0, 2))
_cluster = st.one_of(st.none(), st.sampled_from(["c0", "c1", "c2", "c3"]))
_blocks = st.lists(
    st.lists(st.tuples(_label, _cluster), min_size=1, max_size=8),
    min_size=1,
    max_size=4,
)


@settings(max_examples=25, deadline=None)
@given(_blocks)
@example([[(1, "c0")], [(None, "c0"), (0, None)], [(0, None), (0, None), (1, None)]])
@example([[(0, "c0"), (0, "c1"), (1, "c2")], [(None, None)]])
def test_pairwise_metrics_equals_oracle_per_block(spark, blocks):
    """Per block, the kernel gives the reference's pair-loop P/R/F1 and
    pair counts. Null labels are dropped; a null cluster_id is one group
    (SQL groupBy); a block with no labels has no row."""
    rows, expected = [], {}
    for b, members in enumerate(blocks):
        rows += [(f"b{b}", f"p{i}", t, c) for i, (t, c) in enumerate(members)]
        labelled = [(t, c) for t, c in members if t is not None]
        if labelled:
            truth, pred = zip(*labelled)
            pairs = list(itertools.combinations(range(len(truth)), 2))
            same_t = [truth[i] == truth[j] for i, j in pairs]
            same_p = [pred[i] == pred[j] for i, j in pairs]
            tp = sum(t and p for t, p in zip(same_t, same_p))
            expected[f"b{b}"] = (tp, sum(same_p), sum(same_t)) + _oracle_prf(
                truth, pred
            )
    df = spark.createDataFrame(
        rows, "block_key string, pub_id string, label long, cluster_id string"
    )
    got = {r.block_key: tuple(r)[1:] for r in pairwise_metrics(df).collect()}
    assert got == expected
