"""profile.py (skew / rank-normalize / distinctive-terms) and
evaluate.clustering_agreement — hand-computed expectations."""

from pyspark.sql import functions as F

from hgcn_name_disambiguation_spark.operators.evaluate import (
    clustering_agreement,
)
from hgcn_name_disambiguation_spark.operators.profile import (
    distinctive_terms,
    key_skew_profile,
    rank_normalize,
)


def test_key_skew_profile_hand_computed(spark):
    # counts: a=4, b=2, c=1, d=1 -> n_rows=8, n_keys=4,
    # sum_sq=22, hhi = 22e6 // 64 = 343750,
    # max_over_avg = 4 * 4 * 1e6 // 8 = 2_000_000.
    rows = [("a",)] * 4 + [("b",)] * 2 + [("c",), ("d",)]
    df = spark.createDataFrame(rows, ["k"])
    out = {
        r["rank"]: r
        for r in key_skew_profile(df, ["k"], top_n=2).collect()
    }
    assert set(out) == {1, 2}
    a, b = out[1], out[2]
    assert (a["k"], a["cnt"], a["share_ppm"], a["cum_share_ppm"]) == (
        "a", 4, 500000, 500000,
    )
    assert (b["k"], b["cnt"], b["share_ppm"], b["cum_share_ppm"]) == (
        "b", 2, 250000, 750000,
    )
    for r in (a, b):
        assert (r["n_rows"], r["n_keys"]) == (8, 4)
        assert r["hhi_ppm"] == 343750
        assert r["max_over_avg_ppm"] == 2_000_000


def test_key_skew_profile_tie_break_is_key_order(spark):
    df = spark.createDataFrame(
        [("z",), ("y",), ("y",), ("x",), ("x",)], ["k"]
    )
    out = key_skew_profile(df, ["k"], top_n=3).collect()
    assert [(r["k"], r["rank"]) for r in out] == [
        ("x", 1), ("y", 2), ("z", 3),
    ]


def test_rank_normalize_average_rank_ties(spark):
    # group g values [10, 20, 20, 30]:
    #   10 -> avg rank 1   -> 250000
    #   20 -> avg rank 2.5 -> 625000 (both tied rows identical)
    #   30 -> avg rank 4   -> 1000000
    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 20.0), ("g", 3, 20.0), ("g", 4, 30.0)],
        ["grp", "rid", "v"],
    )
    out = {
        r["rid"]: r["pct_ppm"]
        for r in rank_normalize(df, ["grp"], "v", "rid").collect()
    }
    assert out == {1: 250000, 2: 625000, 3: 625000, 4: 1000000}


def test_rank_normalize_invariant_to_row_order(spark):
    rows = [("g", i, float(v)) for i, v in enumerate([5, 1, 3, 3, 9, 1])]
    df = spark.createDataFrame(rows, ["grp", "rid", "v"])
    base = sorted(
        (r["rid"], r["pct_ppm"])
        for r in rank_normalize(df, ["grp"], "v", "rid").collect()
    )
    shuffled = df.orderBy(F.desc("v")).repartition(7)
    again = sorted(
        (r["rid"], r["pct_ppm"])
        for r in rank_normalize(shuffled, ["grp"], "v", "rid").collect()
    )
    assert base == again


def test_distinctive_terms_lift(spark):
    # group x: 3 docs all containing 'alpha' and 'common';
    # group y: 3 docs containing only 'common'.
    # lift(x, alpha)  = 3*6e6 // (3*3) = 2_000_000
    # lift(*, common) = 3*6e6 // (6*3) = 1_000_000
    rows = [
        ("x", i, "alpha common") for i in range(3)
    ] + [("y", i + 3, "common") for i in range(3)]
    df = spark.createDataFrame(rows, ["lang", "doc_id", "text"])
    out = distinctive_terms(df, "lang", k=5, min_group_df=3).collect()
    got = {(r["lang"], r["token"]): (r["lift_ppm"], r["rank"]) for r in out}
    assert got[("x", "alpha")] == (2_000_000, 1)
    assert got[("x", "common")] == (1_000_000, 2)
    assert got[("y", "common")] == (1_000_000, 1)
    # df_group < min_group_df never appears
    assert all(r["df_group"] >= 3 for r in out)


def test_clustering_agreement_hand_computed(spark):
    # A: {1,2} {3,4}   B: {1,2,3} {4}
    # total=6 pairs_a=2 pairs_b=3 both_same=1
    # split=1 merged=2 both_diff=2 rand = 3e6 // 6 = 500000
    a = spark.createDataFrame(
        [("blk", "1", "c1"), ("blk", "2", "c1"),
         ("blk", "3", "c2"), ("blk", "4", "c2")],
        ["block_key", "pub_id", "cluster_id"],
    )
    b = spark.createDataFrame(
        [("blk", "1", "z9"), ("blk", "2", "z9"),
         ("blk", "3", "z9"), ("blk", "4", "w0")],
        ["block_key", "pub_id", "cluster_id"],
    )
    [r] = clustering_agreement(a, b).collect()
    assert r["n_items"] == 4
    assert r["pairs_total"] == 6
    assert r["pairs_a"] == 2
    assert r["pairs_b"] == 3
    assert r["pairs_both_same"] == 1
    assert r["pairs_split"] == 1
    assert r["pairs_merged"] == 2
    assert r["pairs_both_diff"] == 2
    assert r["rand_ppm"] == 500000


def test_clustering_agreement_label_invariant(spark):
    a = spark.createDataFrame(
        [("blk", str(i), f"c{i % 2}") for i in range(6)],
        ["block_key", "pub_id", "cluster_id"],
    )
    relabeled = a.withColumn(
        "cluster_id", F.concat(F.lit("XX_"), F.col("cluster_id"))
    )
    [r] = clustering_agreement(a, relabeled).collect()
    assert r["rand_ppm"] == 1_000_000
    assert r["pairs_split"] == 0 and r["pairs_merged"] == 0

    singleton = spark.createDataFrame(
        [("solo", "1", "c")], ["block_key", "pub_id", "cluster_id"]
    )
    assert clustering_agreement(singleton, singleton).count() == 0


def test_blocking_stats_hand_computed(spark):
    from hgcn_name_disambiguation_spark.operators.profile import (
        blocking_stats,
    )

    # 6 rows: lang blocks {a:4, b:2} -> pairs 6+1=7; (lang,src)
    # blocks {a/x:3, a/y:1, b/x:2} -> pairs 3+0+1=4; total C(6,2)=15.
    rows = [
        ("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"),
        ("b", "x"), ("b", "x"),
    ]
    df = spark.createDataFrame(rows, ["lang", "source"])
    out = {
        r["scheme"]: r
        for r in blocking_stats(
            df, {"lang": ["lang"], "both": ["lang", "source"]}
        ).collect()
    }
    l, b = out["lang"], out["both"]
    assert (l["n_items"], l["n_blocks"], l["max_block"]) == (6, 2, 4)
    assert l["candidate_pairs"] == 7
    assert l["reduction_ratio_ppm"] == (15 - 7) * 1_000_000 // 15
    assert (b["n_blocks"], b["candidate_pairs"]) == (3, 4)
    assert b["reduction_ratio_ppm"] == (15 - 4) * 1_000_000 // 15


def test_profile_invariants_random_frame(spark):
    """Invariant classes on one seeded random frame: pct_ppm bounds +
    monotonicity in value; skew shares sum/bounds; blocking scheme
    REFINEMENT can only shrink blocks and candidate pairs."""
    import random

    from hgcn_name_disambiguation_spark.operators.profile import (
        blocking_stats,
        key_skew_profile,
        rank_normalize,
    )

    rng = random.Random(421)
    rows = [
        (
            f"g{rng.randrange(3)}",
            i,
            float(rng.randrange(20)),
            f"s{rng.randrange(5)}",
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["grp", "rid", "v", "src"])

    rn = rank_normalize(df, ["grp"], "v", "rid").collect()
    assert all(0 < r["pct_ppm"] <= 1_000_000 for r in rn)
    by_grp = {}
    for r in rn:
        by_grp.setdefault(r["grp"], []).append((r["v"], r["pct_ppm"]))
    for vals in by_grp.values():
        vals.sort()
        # equal values share one pct; larger values never rank lower
        seen = {}
        for v, p in vals:
            assert seen.setdefault(v, p) == p
        pcts = [p for _, p in sorted(seen.items())]
        assert pcts == sorted(pcts)

    sk = key_skew_profile(df, ["grp"], top_n=10).collect()
    assert sum(r["cnt"] for r in sk) == 200  # 3 keys, all in top-10
    for r in sk:
        assert 0 < r["share_ppm"] <= r["cum_share_ppm"] <= 1_000_000
        assert 0 < r["hhi_ppm"] <= 1_000_000

    bs = {
        r["scheme"]: r
        for r in blocking_stats(
            df, {"coarse": ["grp"], "fine": ["grp", "src"]}
        ).collect()
    }
    c, f = bs["coarse"], bs["fine"]
    assert f["n_blocks"] >= c["n_blocks"]
    assert f["max_block"] <= c["max_block"]
    assert f["candidate_pairs"] <= c["candidate_pairs"]
    assert f["reduction_ratio_ppm"] >= c["reduction_ratio_ppm"]


def test_token_entropy_hand_computed(spark):
    from hgcn_name_disambiguation_spark.operators.profile import (
        token_entropy,
    )

    # source s: tokens a a b -> N=3, counts {a:2, b:1}
    #   s = 2*floor(1e6*ln2) + 1*floor(1e6*ln1) = 2*693147 = 1386294
    #   H_micro = floor(1e6*ln3) - 1386294 div 3 = 1098612 - 462098
    # source u: 4 identical tokens -> entropy exactly 0
    df = spark.createDataFrame(
        [("s", "a a b"), ("u", "x x"), ("u", "x x")],
        ["source", "text"],
    )
    out = {r["source"]: r for r in token_entropy(df, "source").collect()}
    s, u = out["s"], out["u"]
    assert (s["n_tokens"], s["n_distinct_tokens"]) == (3, 2)
    assert s["entropy_micro_nats"] == 1098612 - 462098
    assert (u["n_tokens"], u["n_distinct_tokens"]) == (4, 1)
    assert u["entropy_micro_nats"] == 0


def test_length_histogram_buckets(spark):
    from hgcn_name_disambiguation_spark.operators.profile import (
        length_histogram,
    )

    # lens 1 -> bucket 0; 2,3 -> 1; 4 -> 2; 1024 -> 10 (exact power
    # boundary); 0 -> -1.
    df = spark.createDataFrame(
        [("s", 1), ("s", 2), ("s", 3), ("s", 4), ("s", 1024), ("s", 0)],
        ["source", "n_chars"],
    )
    out = {
        r["log2_bucket"]: (r["n_rows"], r["min_len"], r["max_len"])
        for r in length_histogram(df, "source", "n_chars").collect()
    }
    assert out == {
        -1: (1, 0, 0),
        0: (1, 1, 1),
        1: (2, 2, 3),
        2: (1, 4, 4),
        10: (1, 1024, 1024),
    }


def test_mad_anomalies_hand_computed(spark):
    from hgcn_name_disambiguation_spark.operators.profile import (
        mad_anomalies,
    )

    # group g: values 10,10,10,10,100 -> med=10 (rank 3 of 5), adevs
    # 0,0,0,0,90 -> mad=0 -> guard max(mad,1)=1 -> flag |x-10|>3: 100.
    # group h: 1..6 -> med = rank 3 value = 3; adevs 2,1,0,1,2,3 sorted
    # 0,1,1,2,2,3 -> mad = rank 3 = 1 -> flag |x-3|>3: none (max adev 3).
    rows = [("g", i, v) for i, v in enumerate([10, 10, 10, 10, 100])]
    rows += [("h", 10 + i, v) for i, v in enumerate([1, 2, 3, 4, 5, 6])]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_chars"])
    out = mad_anomalies(df, "source", "n_chars", scale=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source"], r["n_chars"], r["med"], r["mad"], r["adev"]) == (
        "g", 100, 10, 0, 90,
    )


def test_mad_anomalies_order_invariant(spark):
    from hgcn_name_disambiguation_spark.operators.profile import (
        mad_anomalies,
    )

    rows = [("s", i, (i * 37) % 50 + (1000 if i % 17 == 0 else 0))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_chars"])
    a = sorted(map(tuple, mad_anomalies(df, "source", "n_chars").collect()))
    b = sorted(
        map(
            tuple,
            mad_anomalies(
                df.repartition(13).sortWithinPartitions(F.desc("n_chars")),
                "source",
                "n_chars",
            ).collect(),
        )
    )
    assert a == b and len(a) >= 1
