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
    (John A.), so its weaker matched edge to John W. is cut and leaves
    the match graph while its edge to John A. stays."""
    from hgcn_name_disambiguation_spark.plans.pipeline import (
        build_match_context,
    )

    pubs = _pubs(
        spark,
        [
            ("john smith", "a1", ["John A. Smith", "Alice Wong"]),
            ("john smith", "a2", ["J. A. Smith"]),
            ("john smith", "w1", ["John W. Smith"]),
            ("john smith", "w2", ["John W. Smith", "Bob Lee"]),
            ("john smith", "x", ["John Smith", "Carol King"]),
        ],
    )
    coauthor = lambda a, b, w: (  # noqa: E731
        "john smith", a, b, w, 0.0, 0.0, 0.0, 0.0
    )
    edges = spark.createDataFrame(
        [
            coauthor("a1", "x", 1.0),    # score 0.5
            coauthor("w1", "x", 0.5),    # score 0.25, still a match
            coauthor("a1", "a2", 1.0),
            coauthor("w1", "w2", 1.0),
        ],
        "block_key string, id_a string, id_b string, w_coauthor double, "
        "w_title double, title_cos double, w_venue double, w_org double",
    )
    ctx = build_match_context(pubs, edges, DEFAULT_CONFIG)
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
