"""Corpus-internal semantic vectors (operators.semantic) and the GHAC
semantic channel (parity.ghac_clusters doc_vecs=...)."""

import dataclasses
import math

import pytest
from pyspark.sql import functions as F, types as T

from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
from hgcn_name_disambiguation_spark.operators.parity import ghac_clusters
from hgcn_name_disambiguation_spark.operators.semantic import (
    document_vectors,
    train_word_vectors,
    training_sentences,
    venue_tokens,
)

PUB_SCHEMA = T.StructType(
    [
        T.StructField("block_key", T.StringType()),
        T.StructField("pub_id", T.StringType()),
        T.StructField("title_toks", T.ArrayType(T.StringType())),
        T.StructField("venue", T.StringType()),
        T.StructField("label", T.IntegerType()),
    ]
)


def _pubs(spark, rows):
    return spark.createDataFrame(rows, PUB_SCHEMA)


def test_venue_tokens_normalized_and_null_safe(spark):
    df = spark.range(1).select(
        venue_tokens(F.lit("Proc. of the 25th VLDB-Conference")).alias("t"),
        venue_tokens(F.lit(None).cast("string")).alias("n"),
    )
    row = df.first()
    assert row.t == ["proc", "of", "the", "25th", "vldb", "conference"]
    assert row.n == []


def test_training_sentences_concat_title_and_venue(spark):
    pubs = _pubs(
        spark,
        [("b", "p1", ["deep", "graph"], "KDD Conference", None)],
    )
    sent = training_sentences(pubs).first().sent
    assert sent == ["deep", "graph", "kdd", "conference"]


def test_document_vectors_idf_weighted_mean(spark):
    # 5 docs; token df: shared=3 (idf ln(5/4)), rare=1 (idf ln(5/2)).
    # Hand-computable with a FIXED word-vector table (no training).
    pubs = _pubs(
        spark,
        [
            ("b", "p1", ["shared", "rare"], None, None),
            ("b", "p2", ["shared"], None, None),
            ("b", "p4", ["shared", "outofvocab"], None, None),
            ("b", "p5", ["filler1"], None, None),
            ("b", "p6", ["filler2"], None, None),
        ],
    )
    words = spark.createDataFrame(
        [("shared", [1.0, 0.0]), ("rare", [0.0, 2.0])],
        ["word", "vector"],
    )
    out = {
        r.pub_id: r.vec
        for r in document_vectors(pubs, words).collect()
    }
    idf_shared = math.log(5 / (1 + 3))
    idf_rare = math.log(5 / (1 + 1))
    wsum = idf_shared + idf_rare
    exp_p1 = [idf_shared * 1.0 / wsum, idf_rare * 2.0 / wsum]
    assert out["p1"] == pytest.approx(exp_p1)
    # single-token docs: weighted mean collapses to the word vector
    assert out["p2"] == pytest.approx([1.0, 0.0])
    # out-of-vocab tokens contribute nothing (p4 == p2's vector)
    assert out["p4"] == pytest.approx([1.0, 0.0])


def test_document_vectors_all_oov_doc_absent(spark):
    pubs = _pubs(
        spark,
        [
            ("b", "p1", ["known"], None, None),
            ("b", "p2", ["unknown"], None, None),
        ],
    )
    words = spark.createDataFrame([("known", [1.0])], ["word", "vector"])
    rows = document_vectors(pubs, words).collect()
    # p2 has zero in-vocab tokens -> no row (callers left-join; the
    # GHAC channel treats the resulting NULL as a zero vector)
    assert {r.pub_id for r in rows} == {"p1"}


def test_document_vectors_pub_repeated_across_blocks(spark):
    """A paper filed under two name blocks with the same pub_id is two
    documents: both rows get a vector, and df counts both. idf over
    N=4: tok1 df 3 -> ln(4/4) = 0, tok2 df 2 -> ln(4/3), tok3 df 1."""
    pubs = _pubs(
        spark,
        [
            ("a x", "p1", ["tok1", "tok2"], None, None),
            ("b y", "p1", ["tok1", "tok2"], None, None),
            ("a x", "p2", ["tok1"], None, None),
            ("b y", "p3", ["tok3"], None, None),
        ],
    )
    words = spark.createDataFrame(
        [("tok1", [1.0, 0.0]), ("tok2", [0.0, 1.0]), ("tok3", [1.0, 1.0])],
        ["word", "vector"],
    )
    out = {
        (r.block_key, r.pub_id): r.vec
        for r in document_vectors(pubs, words).collect()
    }
    assert set(out) == {("a x", "p1"), ("b y", "p1"), ("a x", "p2"), ("b y", "p3")}
    assert out[("a x", "p1")] == pytest.approx([0.0, 1.0])
    assert out[("b y", "p1")] == pytest.approx([0.0, 1.0])
    # p2's only token has idf 0: its weights do not sum above 0
    assert out[("a x", "p2")] is None
    assert out[("b y", "p3")] == pytest.approx([1.0, 1.0])


def test_train_word_vectors_schema_and_min_count(spark):
    pubs = _pubs(
        spark,
        [
            ("b", f"p{i}", ["alpha", "beta"], "venueword x", None)
            for i in range(4)
        ]
        + [("b", "p9", ["once"], None, None)],
    )
    cfg = dataclasses.replace(DEFAULT_CONFIG, w2v_dim=8, w2v_iter=1)
    wv = train_word_vectors(pubs, cfg)
    assert wv.columns == ["word", "vector"]
    vocab = {r.word: r.vector for r in wv.collect()}
    # min_count=2: repeated tokens in, the single-occurrence one out
    assert "alpha" in vocab and "venueword" in vocab
    assert "once" not in vocab
    assert len(vocab["alpha"]) == 8


def test_ghac_semantic_channel_flips_assignment(spark):
    """Pub e has weak structural pull toward c but a strong semantic
    match with a: semantic off -> e clusters with c; on -> with a."""
    pubs = _pubs(
        spark,
        [
            ("b", "a", ["t"], None, 1),
            ("b", "bb", ["t"], None, 1),
            ("b", "c", ["t"], None, 2),
            ("b", "d", ["t"], None, 2),
            ("b", "e", ["t"], None, 1),
        ],
    )
    scored = spark.createDataFrame(
        [
            ("b", "a", "bb", 0.5),
            ("b", "c", "d", 0.5),
            ("b", "c", "e", 0.06),
        ],
        ["block_key", "id_a", "id_b", "score"],
    )
    doc_vecs = spark.createDataFrame(
        [
            ("b", "a", [1.0, 0.0]),
            ("b", "e", [1.0, 0.0]),
            ("b", "c", [0.0, 1.0]),
        ],
        ["block_key", "pub_id", "vec"],
    )
    cfg = dataclasses.replace(
        DEFAULT_CONFIG, semantic_alpha=0.2, semantic_cos_floor=0.5
    )

    def clusters_of(g):
        rows = g.collect()
        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(r.hac_cluster, set()).add(r.pub_id)
        return {frozenset(v) for v in by_cluster.values()}

    off = clusters_of(ghac_clusters(pubs, scored, cfg))
    assert frozenset({"c", "d", "e"}) in off
    on = clusters_of(ghac_clusters(pubs, scored, cfg, doc_vecs=doc_vecs))
    assert frozenset({"a", "bb", "e"}) in on


def test_train_word_vectors_sample_fraction(spark):
    """The 100-TB fit path: w2v_sample_fraction < 1 hash-samples the
    sentences the FIT sees, deterministically (same vocab across
    reruns), while document_vectors still covers every doc."""
    pubs = _pubs(
        spark,
        [
            ("b", f"p{i:02d}", ["alpha", "beta"], "venueword x", None)
            for i in range(20)
        ],
    )
    cfg = dataclasses.replace(
        DEFAULT_CONFIG, w2v_dim=4, w2v_iter=1, w2v_min_count=1,
        w2v_sample_fraction=0.5,
    )
    wv1 = {r.word for r in train_word_vectors(pubs, cfg).collect()}
    wv2 = {r.word for r in train_word_vectors(pubs, cfg).collect()}
    assert wv1 == wv2  # deterministic hash sample, not sample()
    assert "alpha" in wv1  # coverage survives the sample
    # the doc-vector path is unchanged by the sampled fit: every doc
    # with an in-vocab token gets a vector
    wv = train_word_vectors(pubs, cfg)
    docs = document_vectors(pubs, wv, cfg)
    assert docs.count() == 20


def test_train_word_vectors_auto_cap(spark):
    """Round-5 scale-safety: the DEFAULT config (sample_fraction=1.0)
    auto-derives the fit fraction from w2v_max_fit_sentences, and is
    exactly equivalent to passing that fraction explicitly. Sub-cap
    corpora are untouched (fit sees every sentence)."""
    pubs = _pubs(
        spark,
        [
            ("b", f"p{i:02d}", ["alpha", "beta"], "venueword x", None)
            for i in range(20)
        ],
    )
    base = dict(w2v_dim=4, w2v_iter=1, w2v_min_count=1)
    # cap of 10 over 20 sentences -> effective fraction 0.5: the
    # auto-capped fit must produce the identical vocabulary (same
    # deterministic hash sample, same seed) as the explicit knob
    auto = dataclasses.replace(
        DEFAULT_CONFIG, w2v_max_fit_sentences=10, **base
    )
    explicit = dataclasses.replace(
        DEFAULT_CONFIG, w2v_sample_fraction=0.5,
        w2v_max_fit_sentences=0, **base
    )
    va = {r.word for r in train_word_vectors(pubs, auto).collect()}
    ve = {r.word for r in train_word_vectors(pubs, explicit).collect()}
    assert va == ve
    # corpus under the cap: identical to the uncapped fit
    under = dataclasses.replace(
        DEFAULT_CONFIG, w2v_max_fit_sentences=1000, **base
    )
    off = dataclasses.replace(
        DEFAULT_CONFIG, w2v_max_fit_sentences=0, **base
    )
    vu = {r.word for r in train_word_vectors(pubs, under).collect()}
    vo = {r.word for r in train_word_vectors(pubs, off).collect()}
    assert vu == vo
