"""M7 parity annex: per-block GHAC (average-linkage HAC + modularity
k-search) vs. reference semantics (name_disambiguation.py:61-108,
597-687) on constructed blocks with known structure."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hgcn_name_disambiguation_spark.config import PipelineConfig
from hgcn_name_disambiguation_spark.fixtures.generator import repo_files_dataframe
from hgcn_name_disambiguation_spark.operators.evaluate import pairwise_metrics
from hgcn_name_disambiguation_spark.operators.parity import (
    _average_linkage,
    _components,
    _modularity,
    ghac_clusters,
)
from hgcn_name_disambiguation_spark.operators.parse import parse_publications
from hgcn_name_disambiguation_spark.plans.pipeline import build_match_context


# ---------- numpy kernels ----------

def test_average_linkage_two_groups():
    # points 0,1,2 mutually close; 3,4 close; groups far apart
    sim = np.zeros((5, 5))
    for a, b in [(0, 1), (0, 2), (1, 2)]:
        sim[a, b] = sim[b, a] = 0.9
    sim[3, 4] = sim[4, 3] = 0.8
    labels = _average_linkage(-sim, 2)
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4]
    assert labels[0] != labels[3]


def test_average_linkage_degenerate_k():
    sim = np.random.RandomState(0).rand(6, 6)
    sim = (sim + sim.T) / 2
    assert len(set(_average_linkage(-sim, 6))) == 6
    assert len(set(_average_linkage(-sim, 1))) == 1


def test_modularity_two_communities():
    adj = np.zeros((6, 6))
    for a, b in [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)]:
        adj[a, b] = adj[b, a] = 1.0
    good = np.array([0, 0, 0, 1, 1, 1])
    bad = np.array([0, 1, 0, 1, 0, 1])
    assert _modularity(adj, good) > _modularity(adj, bad)
    assert _modularity(adj, good) == pytest.approx(0.5)


def test_components():
    adj = np.zeros((5, 5), dtype=bool)
    adj[0, 1] = adj[1, 0] = True
    adj[2, 3] = adj[3, 2] = True
    assert _components(adj) == 3  # {0,1} {2,3} {4}


# ---------- Spark operator ----------

@pytest.fixture(scope="module")
def tiny_pipeline(spark):
    cfg = PipelineConfig()
    rf = repo_files_dataframe(
        spark, seed=11, blocks=3, pubs_per_block=25, skew_factor=2
    )
    pubs = parse_publications(rf, cfg)
    scored = build_match_context(pubs, cfg).scored.select(
        "block_key", "id_a", "id_b", "w_coauthor", "w_title", "title_cos",
        "w_venue", "w_org", "score",
    )
    return cfg, pubs, scored


def test_ghac_fixed_k_matches_truth(spark, tiny_pipeline):
    cfg, pubs, scored = tiny_pipeline
    out = ghac_clusters(pubs, scored, cfg, k_from_labels=True)
    joined = pubs.join(out, ["block_key", "pub_id"]).where(
        F.col("hac_cluster") >= 0
    )
    m = pairwise_metrics(
        joined.select(
            "block_key", "label", F.col("hac_cluster").alias("cluster_id")
        )
    )
    rows = m.collect()
    assert rows, "no blocks evaluated"
    for r in rows:
        assert r.f1 >= 0.95, f"block {r.block_key}: f1={r.f1}"


def test_ghac_k_search_mode_runs(spark, tiny_pipeline):
    cfg, pubs, scored = tiny_pipeline
    out = ghac_clusters(pubs, scored, cfg, k_from_labels=False).cache()
    assert out.where(F.col("method") == "modularity-search").count() > 0
    # partition property: every pub exactly one cluster
    assert (
        out.groupBy("block_key", "pub_id").count().where("count > 1").count()
        == 0
    )


def test_ghac_too_large_fallback(spark, tiny_pipeline):
    cfg, pubs, scored = tiny_pipeline
    out = ghac_clusters(
        pubs, scored, cfg, k_from_labels=True, max_block_for_dense=5
    )
    assert out.where(F.col("method") == "too-large-fallback").count() > 0
    assert (
        out.where(F.col("method") == "too-large-fallback")
        .where(F.col("hac_cluster") != -1)
        .count()
        == 0
    )


def test_ghac_deterministic(spark, tiny_pipeline):
    cfg, pubs, scored = tiny_pipeline
    a = ghac_clusters(pubs, scored, cfg).orderBy("block_key", "pub_id")
    b = ghac_clusters(pubs, scored, cfg).orderBy("block_key", "pub_id")
    pa = a.toPandas()
    pb = b.toPandas()
    pd.testing.assert_frame_equal(pa, pb)
