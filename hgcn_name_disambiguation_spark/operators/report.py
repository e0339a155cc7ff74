"""M5 — cluster reporting (SURVEY §2.5 W2, §2.1 S8 sink).

Reference semantics, made deterministic:
- W2 dense re-indexing (``name_disambiguation.py:229-232,737-739``):
  clusters re-keyed to dense "0","1",... per block by (size DESC,
  cluster ASC).
- S8 clusters JSON sink (``:236-239,742-744``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def dense_cluster_index(clusters: DataFrame) -> DataFrame:
    """W2: re-key cluster ids to dense "0","1",... per block, ordered
    by (member count DESC, cluster_id ASC) — deterministic."""
    sizes = clusters.groupBy("block_key", "cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    w = Window.partitionBy("block_key").orderBy(F.desc("sz"), F.asc("cluster_id"))
    dense = sizes.withColumn(
        "dense_id", (F.row_number().over(w) - 1).cast("string")
    ).select("block_key", "cluster_id", "dense_id")
    return clusters.join(dense, ["block_key", "cluster_id"])


def clusters_report(clustered: DataFrame) -> DataFrame:
    """S8 shape: one row per (block_key, dense cluster) with the sorted
    member id array — the DataFrame form of
    result/author_clusters/{name}_clusters.json."""
    dense = dense_cluster_index(clustered)
    return (
        dense.groupBy("block_key", "dense_id")
        .agg(F.array_sort(F.collect_set("pub_id")).alias("member_ids"))
        .withColumnRenamed("dense_id", "cluster_id")
    )


def write_clusters_json(clustered: DataFrame, path: str) -> None:
    """S8: JSON sink, one file tree partitioned by block."""
    clusters_report(clustered).write.mode("overwrite").partitionBy(
        "block_key"
    ).json(path)
