"""Cluster report tests: the dense re-indexing and member arrays that
``write_clusters_json`` writes."""

from hgcn_name_disambiguation_spark.operators.report import (
    clusters_report,
    dense_cluster_index,
)


def test_dense_index_and_report(spark):
    rows = [
        ("b", "p1", "cB"), ("b", "p2", "cB"), ("b", "p3", "cB"),
        ("b", "p4", "cA"), ("b", "p5", "cA"), ("b", "p6", "cC"),
    ]
    df = spark.createDataFrame(rows, ["block_key", "pub_id", "cluster_id"])
    dense = {
        r.cluster_id: r.dense_id
        for r in dense_cluster_index(df).select("cluster_id", "dense_id").distinct().collect()
    }
    # size desc: cB(3)->0, cA(2)->1, cC(1)->2
    assert dense == {"cB": "0", "cA": "1", "cC": "2"}
    rep = {r.cluster_id: r.member_ids for r in clusters_report(df).collect()}
    assert rep["0"] == ["p1", "p2", "p3"] and rep["2"] == ["p6"]
