"""S7/A3 — corpus-internal semantic title vectors.

The reference features each pub as the mean word2vec vector of its
stemmed title tokens, using a PRE-TRAINED embedding loaded from disk
(``name_disambiguation.py:711-716`` loads the word2vec dict;
``:849-856`` averages token vectors into the per-pub feature). That
embedding is external training data, which this from-scratch engine
does not consume — so the embedding is trained ON THE CORPUS ITSELF
with ``pyspark.ml.feature.Word2Vec`` (distributed skip-gram fit).

Two deliberate adaptations, both measured on the reference's labeled
AMiner corpus (REFERENCE_EVAL_GHAC.md, round 3):

- **Training sentences are title tokens + venue tokens.** Venue words
  act as cross-title context anchors: two titles sharing no token
  still land near each other in embedding space when they co-occur
  with the same venue words somewhere in the corpus. Title-only
  training buys +0.7 macro F1 on the archived-100 GHAC benchmark;
  title+venue training buys +1.8 (window covering the venue span).
- **Document vector = IDF-weighted mean of TITLE-token vectors**
  (venue tokens are training context only, not document content).
  Plain mean (exact A3 parity) measures ~0.7 points worse — tiny
  corpora produce noisy vectors for generic high-df tokens, and idf
  weighting suppresses exactly those.

Scale stance (100 TB): the Word2Vec fit is the one stage with a
driver-resident model (vocab x dim float matrix, broadcast to
executors per iteration — Spark ML's design). Vocabulary, not corpus
size, bounds that memory: ``w2v_min_count`` keeps the vocab to tokens
seen repeatedly, and at 10^12-doc scale the fit runs on a sampled
fraction of sentences (embeddings need token co-occurrence coverage,
not every document) while the doc vectors still cover every
document. They are formed where they are read: ``word_table`` collects
{tok: (idf, vector)} for the in-vocabulary tokens (bounded by the
vocabulary, like the fit), and ``doc_vector`` is a pure function the
semantic merge kernel calls per member.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions.text import normalize_title, tokenize_keep_long


def venue_tokens(venue: Column) -> Column:
    """Venue string -> normalized word tokens (len > 1), [] for null.

    Same normalize/tokenize kernels as titles (P1/P2) — NOT stemmed:
    venue words are proper-noun-ish (conference names) where stemming
    merges distinct venues more than it canonicalizes.
    """
    return F.when(
        venue.isNotNull(), tokenize_keep_long(normalize_title(venue))
    ).otherwise(F.array().cast("array<string>"))


def training_sentences(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(pub_id, sent) — one token sequence per pub: title ++ venue."""
    return pubs.select(
        "pub_id",
        F.concat(
            F.col("title_toks"), venue_tokens(F.col("venue"))
        ).alias("sent"),
    )


def train_word_vectors(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Fit Word2Vec on the corpus's own sentences -> (word, vector)
    (``_fit_word_vectors`` without its sentence count)."""
    return _fit_word_vectors(pubs, config)[0]


def _fit_word_vectors(
    pubs: DataFrame, config: PipelineConfig
) -> tuple[DataFrame, int | None]:
    """Fit Word2Vec on the corpus's own sentences -> ((word, vector),
    the sentence count when the fit took it, else None).

    Deterministic for a fixed config at ``w2v_num_partitions=1``
    (Spark ML's fit is order-dependent across partitions; at cluster
    scale raise the partition count and accept run-to-run vector
    variance — the downstream channel is threshold-gated, measured
    stable across seeds 0.863-0.870 archived-100 F1).

    ``w2v_sample_fraction < 1`` is the 100-TB path: the FIT consumes a
    deterministic hash-sample of the sentences (xxhash64(pub_id, seed)
    — reproducible across reruns/executor counts, unlike
    ``DataFrame.sample``'s partition-dependent RNG), while the doc
    vectors still cover EVERY document. Embeddings
    need token co-occurrence coverage, not every sentence.

    The DEFAULT config engages that path automatically (round 5):
    with ``w2v_sample_fraction=1.0`` the fit counts the corpus once
    and caps its input at ``w2v_max_fit_sentences`` — so the
    deterministic 1-partition fit is bounded-constant work at any
    corpus size, and sub-cap corpora (the reference corpus, every
    fixture) fit on exactly the same sentences as before.
    """
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    sents = training_sentences(pubs, config)
    frac = min(max(config.w2v_sample_fraction, 0.0), 1.0)
    n = None
    if frac >= 1.0 and config.w2v_max_fit_sentences > 0:
        # auto-derive the 100-TB-safe fraction: one bounded scalar
        # action (a count the fit's own cost dwarfs) caps the
        # sentences the serialized fit consumes at a constant.
        n = sents.count()
        if n > config.w2v_max_fit_sentences:
            frac = config.w2v_max_fit_sentences / n
    if frac < 1.0:
        bound = int(frac * (2 ** 63 - 1))
        sents = sents.where(
            F.abs(F.xxhash64(F.col("pub_id"), F.lit(config.w2v_seed)))
            <= F.lit(bound)
        )
    model = Word2Vec(
        vectorSize=config.w2v_dim,
        windowSize=config.w2v_window,
        minCount=config.w2v_min_count,
        maxIter=config.w2v_iter,
        numPartitions=config.w2v_num_partitions,
        seed=config.w2v_seed,
        inputCol="sent",
        outputCol="_vec",
    ).fit(sents)
    vectors = model.getVectors().select(
        "word", vector_to_array(F.col("vector"), "float64").alias("vector")
    )
    return vectors, n


def word_table(
    pubs: DataFrame, word_vectors: DataFrame, n_docs: int
) -> dict[str, tuple[float, np.ndarray]]:
    """{tok: (idf, vector)} for every title token of ``pubs`` that has a
    word vector, collected to the driver (its size is bounded by the
    vocabulary, not the corpus). idf(tok) = ln(N / (1 + df(tok))) over
    ``n_docs`` = N documents — CORPUS-wide, unlike the per-block idf of
    the title channel: semantic generality of a word is a corpus
    property, not a block property. A document is one pubs row, i.e.
    one (block_key, pub_id): the same paper filed under two name
    blocks counts, and is featurized, once per block.

    One aggregation and one join to the vocabulary, JVM-side."""
    df = (
        pubs.select(F.explode(F.array_distinct("title_toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(word_vectors.withColumnRenamed("word", "tok"), "tok")
        .select(
            "tok",
            F.log(F.lit(n_docs) / (1.0 + F.col("df"))).alias("idf"),
            "vector",
        )
    )
    return {
        r.tok: (r.idf, np.asarray(r.vector, dtype=float)) for r in df.collect()
    }


def doc_vector(
    toks: Iterable[str] | None, table: dict[str, tuple[float, np.ndarray]]
) -> np.ndarray | None:
    """IDF-weighted mean of the in-vocabulary title-token vectors of one
    document (distinct tokens, summed in sorted order). None when no
    token is in ``table`` or the idf weights do not sum above 0 —
    callers treat it as "no semantic evidence"."""
    hits = sorted({t for t in toks if t in table}) if toks is not None else []
    if not hits:
        return None
    w = np.array([table[t][0] for t in hits])
    wsum = w.sum()
    if not wsum > 0:
        return None
    vecs = np.stack([table[t][1] for t in hits])
    return (w[:, None] * vecs).sum(axis=0) / wsum


def document_vectors(
    pubs: DataFrame,
    word_vectors: DataFrame,
    config: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """IDF-weighted mean of title-token vectors per pub (``doc_vector``
    over ``word_table``).

    (block_key, pub_id, vec ARRAY<DOUBLE>) — one row per pub with at
    least one in-vocab title token, vec NULL when its idf weights do
    not sum above 0; pubs with no in-vocab token get no row (callers
    left-join and treat NULL as "no semantic evidence")."""
    table = word_table(pubs, word_vectors, pubs.count())

    def vectors(batches):
        for pdf in batches:
            keep = [
                toks is not None and any(t in table for t in toks)
                for toks in pdf["title_toks"]
            ]
            part = pdf[keep]
            vecs = [doc_vector(t, table) for t in part["title_toks"]]
            yield pd.DataFrame({
                "block_key": part["block_key"],
                "pub_id": part["pub_id"],
                "vec": pd.Series(
                    [None if v is None else v.tolist() for v in vecs],
                    index=part.index, dtype=object,
                ),
            })

    return pubs.select("block_key", "pub_id", "title_toks").mapInPandas(
        vectors, schema="block_key string, pub_id string, vec array<double>"
    )


def semantic_word_table(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> dict[str, tuple[float, np.ndarray]]:
    """Train, then ``word_table`` over the same pubs: the driver-side
    table the semantic merge kernel forms its doc vectors from. N is
    the sentence count the fit takes (one sentence per pub)."""
    vectors, n = _fit_word_vectors(pubs, config)
    return word_table(pubs, vectors, pubs.count() if n is None else n)


def semantic_document_vectors(
    pubs: DataFrame, config: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Train + featurize in one call (the eval/parity entry)."""
    return document_vectors(pubs, train_word_vectors(pubs, config), config)
