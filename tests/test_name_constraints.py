"""Name-signature constraints + ambiguity tiers (round 3).

Covers the adaptive layer the reference lacks: focal-signature
extraction, seed maximality, evidence-vote resolution, cannot-link
cuts, tier classification, and the end-to-end effect (a block whose
entities differ only by middle initial must not weld through shared
venues)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F, types as T

from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
from hgcn_name_disambiguation_spark.functions.names import name_tier
from hgcn_name_disambiguation_spark.operators.name_constraints import (
    focal_signatures,
    incompatible_cut,
    resolve_signature_classes,
    sig_compatible,
    signature_seeds,
)

PUB_SCHEMA = T.StructType(
    [
        T.StructField("block_key", T.StringType()),
        T.StructField("pub_id", T.StringType()),
        T.StructField("authors", T.ArrayType(T.StringType())),
    ]
)


def _pubs(spark, rows):
    return spark.createDataFrame(
        [Row(block_key=b, pub_id=p, authors=a) for b, p, a in rows],
        PUB_SCHEMA,
    )


def _sig_map(pubs):
    """pub_id -> focal signature of a one-block pubs frame."""
    return {r.pub_id: r.sig for r in focal_signatures(pubs).collect()}


def test_focal_signature_extraction(spark):
    pubs = _pubs(
        spark,
        [
            # exact first-name match preferred
            ("john smith", "p1", ["Alice Wong", "John A. Smith"]),
            # initial-compatible fallback
            ("john smith", "p2", ["J. N. Smith", "R. T. Williams"]),
            # different first name, same surname -> still the focal
            # candidate (carries contradiction evidence)
            ("john smith", "p3", ["Kenneth J. Smith", "R. Thomson"]),
            # no author with the block surname -> null sig
            ("john smith", "p4", ["Alice Wong", "Bob Lee"]),
        ],
    )
    got = {
        r.pub_id: r.sig
        for r in focal_signatures(pubs).collect()
    }
    assert got["p1"] == ["john", "a"]
    assert got["p2"] == ["j", "n"]
    assert got["p3"] == ["kenneth", "j"]
    assert got["p4"] is None


def test_focal_signature_same_priority_prefers_longer(spark):
    """Among equal-priority candidates the LONGEST signature wins —
    middle tokens strengthen the cannot-link constraint; the shorter
    one would discard them."""
    pubs = _pubs(
        spark,
        [
            # both exact first-name matches (pri 2): longer sig wins
            ("john smith", "p1", ["John Smith", "John A. B. Smith"]),
            # both pri 0 (different first): longer, then lexicographic
            ("john smith", "p2", ["Kenneth Smith", "Kenneth A. Smith"]),
            # equal length + equal pri -> lexicographically first _g1
            ("john smith", "p3", ["Walter B. Smith", "Kenneth A. Smith"]),
        ],
    )
    got = {r.pub_id: r.sig for r in focal_signatures(pubs).collect()}
    assert got["p1"] == ["john", "a", "b"]
    assert got["p2"] == ["kenneth", "a"]
    assert got["p3"] == ["kenneth", "a"]


def _window_signatures(pubs):
    """The former window formulation of focal_signatures (explode, rank
    per pub, join back), kept as the oracle of the row-local one."""
    from pyspark.sql import Window

    from hgcn_name_disambiguation_spark.functions.names import normalize_name

    bparts = F.split(F.col("block_key"), " ")
    toks = F.split(normalize_name(F.col("author")), " ")
    cands = (
        pubs.select(
            "block_key", "pub_id",
            F.element_at(bparts, 1).alias("_bf"),
            F.element_at(bparts, -1).alias("_bl"),
            F.explode("authors").alias("author"),
        )
        .withColumn("_toks", toks)
        .where((F.size("_toks") >= 2) & (F.element_at("_toks", -1) == F.col("_bl")))
        .withColumn("sig", F.slice("_toks", 1, F.size("_toks") - 1))
        .withColumn("_g1", F.element_at("sig", 1))
        .withColumn(
            "_pri",
            F.when(F.col("_g1") == F.col("_bf"), 2)
            .when(
                (F.substring("_g1", 1, 1) == F.substring("_bf", 1, 1))
                & ((F.length("_g1") == 1) | (F.length("_bf") == 1)),
                1,
            )
            .otherwise(0),
        )
    )
    w = Window.partitionBy("block_key", "pub_id").orderBy(
        F.desc("_pri"), F.size("sig").desc(), F.asc("_g1"), F.asc("sig")
    )
    best = (
        cands.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("block_key", "pub_id", "sig")
    )
    return pubs.select("block_key", "pub_id").join(
        best, ["block_key", "pub_id"], "left"
    )


def test_focal_signatures_row_local_equals_window(spark, fixture_repo_files):
    """The row-local array expression picks the same signature per pub
    as the window formulation on the fixture corpus and on hand-made
    variants; candidates tied on priority, length and first token go
    to the smaller signature."""
    from hgcn_name_disambiguation_spark.operators.parse import (
        parse_publications,
    )

    pubs = parse_publications(fixture_repo_files).select(
        "block_key", "pub_id", "authors"
    ).unionByName(_pubs(
        spark,
        [
            ("john smith", "t1", ["John B. Smith", "John A. Smith"]),
            ("john smith", "t2", ["J. Smith", "John Q. Smith", "John A. Smith"]),
            ("john smith", "t3", ["Kenneth W. Smith", "Kenneth A. Smith"]),
            ("john smith", "t4", []),
            ("john smith", "t5", None),
        ],
    ))

    def sigs(df):
        return sorted(
            (r.block_key, r.pub_id, None if r.sig is None else tuple(r.sig))
            for r in df.collect()
        )

    got = sigs(focal_signatures(pubs))
    assert got == sigs(_window_signatures(pubs))
    assert sum(s is not None for *_, s in got) > 50
    by_pub = {p: s for _, p, s in got}
    assert by_pub["t1"] == ("john", "a")
    assert by_pub["t2"] == ("john", "a")
    assert by_pub["t3"] == ("kenneth", "a")
    assert by_pub["t4"] is None and by_pub["t5"] is None


def test_signature_seeds_maximality(spark):
    pubs = _pubs(
        spark,
        [
            ("john smith", "p1", ["John A. Smith"]),
            ("john smith", "p2", ["J. A. Smith"]),     # refined by john a
            ("john smith", "p3", ["John W. Smith"]),
            ("john smith", "p4", ["John Smith"]),      # refined by both
        ],
    )
    seeds = {
        tuple(s)
        for s in signature_seeds(
            r.sig for r in focal_signatures(pubs).collect()
        )
    }
    assert seeds == {("john", "a"), ("john", "w")}


def test_resolution_unique_and_vote(spark):
    pubs = _pubs(
        spark,
        [
            ("john smith", "a1", ["John A. Smith"]),
            ("john smith", "a2", ["J. A. Smith"]),
            ("john smith", "w1", ["John W. Smith"]),
            # ambiguous: compatible with both seeds; must follow its
            # match-edge evidence toward the A-cluster
            ("john smith", "x1", ["John Smith"]),
        ],
    )
    matches = [("a1", "x1", 0.9), ("w1", "x1", 0.1)]
    classes = resolve_signature_classes(_sig_map(pubs), matches)
    sep = "\x1f"
    assert classes["a1"] == f"john{sep}a"
    assert classes["a2"] == f"john{sep}a"
    assert classes["w1"] == f"john{sep}w"
    assert classes["x1"] == f"john{sep}a"  # evidence vote 0.9 > 0.1


def test_incompatible_cut_class_and_raw(spark):
    pubs = _pubs(
        spark,
        [
            ("john smith", "a1", ["John A. Smith"]),
            ("john smith", "w1", ["John W. Smith"]),
            # stays unresolved (no vote evidence), but raw sig exists
            ("john smith", "m1", ["J. M. Smith"]),
            ("john smith", "m2", ["James M. Smith"]),
            ("john smith", "ma", ["John Maynard Smith"]),
        ],
    )
    sigs = _sig_map(pubs)
    matches = [
        ("a1", "w1", 0.9),   # class contradiction
        ("m1", "a1", 0.5),   # raw contradiction (m vs a)
        ("m1", "ma", 0.5),   # raw compatible (j m ~ john maynard)
    ]
    classes = resolve_signature_classes(sigs, matches)
    out = {
        (a, b): incompatible_cut(
            sigs[a], sigs[b], classes.get(a), classes.get(b)
        )
        for a, b, _ in matches
    }
    assert out[("a1", "w1")] is True
    assert out[("m1", "a1")] is True
    assert out[("m1", "ma")] is False


def test_pipeline_vote_cuts_ambiguous_pub(spark):
    """End to end through build_match_context: the ambiguous "John
    Smith" pub x joins the class its stronger matched edge points to
    (John A., a shared coauthor), so its weaker matched edge to John W.
    (a shared venue) is cut and leaves the match graph while its edge
    to John A. stays."""
    from hgcn_name_disambiguation_spark.plans.pipeline import (
        build_match_context,
    )

    # coauthor pairs score 0.5; the venue-only w1-x pair scores 0.4,
    # still a match
    pubs = spark.createDataFrame(
        [
            ("john smith", "a1", ["John A. Smith", "Alice Wong"], "v1"),
            ("john smith", "a2", ["J. A. Smith", "Alice Wong"], None),
            ("john smith", "w1", ["John W. Smith", "Bob Lee"], "v2"),
            ("john smith", "w2", ["John W. Smith", "Bob Lee"], None),
            ("john smith", "x", ["John Smith", "Alice Wong"], "v2"),
        ],
        "block_key string, pub_id string, authors array<string>, "
        "venue string",
    ).withColumn("title_toks", F.array().cast("array<string>"))
    ctx = build_match_context(pubs, DEFAULT_CONFIG)
    flags = {
        (r.id_a, r.id_b): (r.is_match, r.sig_cut)
        for r in ctx.scored.collect()
    }
    assert flags[("a1", "x")] == (True, False)
    assert flags[("w1", "x")] == (True, True)
    matches = {(r.id_a, r.id_b) for r in ctx.matches.collect()}
    assert ("a1", "x") in matches
    assert ("w1", "x") not in matches


def test_name_tier_classification(spark):
    df = spark.createDataFrame(
        [(k,) for k in [
            "lei wang", "j guo", "koichi furukawa", "john smith",
            "barry wilkinson", "xiaoyan li", "yang wang",
        ]],
        "block_key string",
    ).withColumn("tier", name_tier(F.col("block_key")))
    got = {r.block_key: r.tier for r in df.collect()}
    assert got["lei wang"] == "amb"          # common CJK surname + short given
    assert got["j guo"] == "amb"             # initial-only first name
    assert got["yang wang"] == "amb"
    assert got["koichi furukawa"] == "rare"
    assert got["xiaoyan li"] == "rare"       # long given name: key is specific
    assert got["john smith"] == "common"
    assert got["barry wilkinson"] == "rare"


def test_pipeline_splits_contradictory_middles(spark):
    """Two entities 'John A. Smith' and 'John W. Smith' sharing one
    venue must NOT weld: the venue edges clear tau, but the signature
    cannot-links cut them before transitive closure."""
    import json

    from hgcn_name_disambiguation_spark.plans.pipeline import run_pipeline

    rows = []
    for i in range(6):
        rows.append(
            {
                "block": "John Smith",
                "pub_id": f"A{i}",
                "title": f"spectral methods topic{i} study",
                "authors": ["John A. Smith", f"Colleague{i} Jones"],
                "venue": "shared venue",
                "label": 0,
            }
        )
        rows.append(
            {
                "block": "John Smith",
                "pub_id": f"W{i}",
                "title": f"database systems subject{i} analysis",
                "authors": ["John W. Smith", f"Partner{i} Brown"],
                "venue": "shared venue",
                "label": 1,
            }
        )
    rf = spark.createDataFrame(
        [
            (
                "repo",
                f"john smith/{pub['pub_id']}.json",
                "c0",
                "json",
                json.dumps(pub),
            )
            for pub in rows
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    res = run_pipeline(rf, DEFAULT_CONFIG)
    clusters = {
        r.pub_id: r.cluster_id for r in res.clustered.collect()
    }
    a_clusters = {clusters[f"A{i}"] for i in range(6)}
    w_clusters = {clusters[f"W{i}"] for i in range(6)}
    # the two entities never share a cluster
    assert not (a_clusters & w_clusters)


@pytest.mark.parametrize(
    "sig_a,sig_b,compatible",
    [
        (["john", "a"], ["john", "w"], False),
        (["j", "m"], ["john", "maynard"], True),
        (["j"], ["john", "a"], True),
        (["john"], ["j", "w"], True),
        (["ward"], ["w"], True),
        (["ward"], ["wilson"], False),
        ([], ["john"], True),
    ],
)
def test_sig_compatibility_matrix(sig_a, sig_b, compatible):
    assert sig_compatible(sig_a, sig_b) is compatible
