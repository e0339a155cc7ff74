"""Structured Streaming surface: foreachBatch sinks that keep author
clusters current as new repo_files rows arrive.

The reference is batch-only (SURVEY §2.10: no streaming constructs
anywhere), so this module is forward-looking capability, not parity:

- IncrementalDisambiguator: incremental ER — each micro-batch of new
  rows is parsed, matched against the accumulated store, and
  re-clustered per touched block only. New rows can only change
  clusters in blocks they land in, so each batch re-resolves touched
  blocks, not the world; the result equals the batch pipeline on the
  union of all rows seen so far.
- StreamingClusterAssigner: bounded-latency assignment — each
  micro-batch is attributed to an existing clustered snapshot
  (``operators/assign.py``) without re-clustering.

Both are exercised in tests with file sources + foreachBatch sinks via
processAllAvailable() — the synchronous local harness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.candidate_pairs import combined_edges
from ..operators.parse import parse_publications
from ..plans.pipeline import build_match_context, cluster_from_context


class IncrementalDisambiguator:
    """foreachBatch incremental ER over a stream of repo_files rows.

    State: an accumulated `pubs` store + current `clustered` output,
    both parquet-backed (Iceberg at prod — io.catalog) and partitioned
    by ``block_bucket = pmod(xxhash64(block_key), store_buckets)``.
    Per batch:
      1. parse new rows -> new pubs; append to the bucketed store
      2. touched buckets (a bounded list, <= store_buckets ints — the
         ONLY thing that ever reaches the driver) prune the store scan
         to the partitions that can contain touched blocks
      3. a broadcast LEFT SEMI join on the touched block-keys frame
         narrows compute to touched blocks only — no collect() of
         block keys, no isin() over an unbounded list
      4. re-run edges->score->threshold->CC for those blocks; write
         back at bucket granularity: recomputed blocks' clusters
         UNION the untouched blocks' existing rows from the same
         buckets (a pruned read + broadcast anti-join, no recompute),
         dynamic-partition-overwriting exactly the touched buckets

    Determinism: the result equals the batch pipeline run on the union
    of all rows seen so far (asserted in tests) — incremental vs batch
    equivalence is the correctness contract.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        config: PipelineConfig = DEFAULT_CONFIG,
        store_buckets: int = 64,
    ):
        self.spark = spark
        self.store_dir = store_dir
        self.config = config
        self.store_buckets = store_buckets
        self._have_clusters = False

    def _store_path(self) -> str:
        return f"{self.store_dir}/pubs_store"

    def _clusters_path(self) -> str:
        return f"{self.store_dir}/clusters"

    def _bucket(self) -> Column:
        return F.pmod(F.xxhash64("block_key"), F.lit(self.store_buckets))

    def _clusters_exist(self) -> bool:
        # restart-safe (resume from stream checkpoint re-creates this
        # object): probe the filesystem once, then cache.
        if self._have_clusters:
            return True
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self._clusters_path())
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        self._have_clusters = bool(fs.exists(path))
        return self._have_clusters

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        new_pubs = parse_publications(
            batch_df, self.config, observe_name=None
        ).withColumn("block_bucket", self._bucket())
        new_pubs.write.mode("append").partitionBy("block_bucket").parquet(
            self._store_path()
        )

        touched_keys = new_pubs.select("block_key").distinct()
        # Bounded driver data: bucket ids only (<= store_buckets).
        buckets = [
            r.b
            for r in touched_keys.select(self._bucket().alias("b"))
            .distinct()
            .collect()
        ]
        if not buckets:
            return
        store = self.spark.read.parquet(self._store_path()).where(
            F.col("block_bucket").isin(buckets)  # partition pruning
        )
        scoped = store.join(F.broadcast(touched_keys), "block_key", "left_semi")
        edges = combined_edges(scoped, self.config)
        # Same score->match->cluster path as the batch pipeline (name
        # constraints, ambiguity gate, enrich, cluster-refine all
        # honored) so the incremental-equals-batch invariant holds for
        # EVERY config, not just the default.
        ctx = build_match_context(scoped, edges, self.config)
        clustered = cluster_from_context(scoped, ctx, self.config)

        if self._clusters_exist():
            # keep untouched blocks living in the touched buckets
            existing = self.spark.read.parquet(self._clusters_path()).where(
                F.col("block_bucket").isin(buckets)
            )
            keep = existing.join(
                F.broadcast(touched_keys), "block_key", "left_anti"
            )
            clustered = clustered.unionByName(
                keep, allowMissingColumns=False
            )
        (
            clustered.write.mode("overwrite")
            .partitionBy("block_bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self._clusters_path())
        )
        self._have_clusters = True

    def attach(self, stream_df: DataFrame):
        """Wire onto a streaming DataFrame of repo_files rows."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .outputMode("append")
            .option("checkpointLocation", f"{self.store_dir}/_checkpoint")
        )

    def clusters(self) -> DataFrame:
        return self.spark.read.parquet(self._clusters_path())


class StreamingClusterAssigner:
    """foreachBatch incremental cluster ASSIGNMENT: attribute each
    micro-batch of new repo_files rows to an existing clustered
    snapshot (``operators/assign.py``) without re-clustering — the
    bounded-latency complement to :class:`IncrementalDisambiguator`
    (which re-resolves touched blocks and is the heavier, exact path).

    The snapshot-side candidate indexes (coauthor/venue/token-idf
    profiles) are built ONCE at construction and persisted, so every
    micro-batch pays only the stream-static equi-joins + two hash
    aggregates of ``assign_to_clusters``.

    Why foreachBatch and not a pure streaming plan: the title channel
    normalizes by a per-pub idf norm and then argmaxes per (pub,
    cluster) — two chained aggregations, which Structured Streaming
    cannot run in one query (chained stateful aggs are unsupported in
    update mode). Inside foreachBatch each micro-batch is a plain
    DataFrame, so batch and stream agree BY CONSTRUCTION (asserted in
    tests). A stateless stream-static variant is possible for the
    coauthor/venue channels alone (single agg); it is deliberately not
    shipped — silently dropping the title channel would change what
    "assigned" means between batch and stream.
    """

    def __init__(
        self,
        spark: SparkSession,
        clustered: DataFrame,
        out_dir: str,
        config: PipelineConfig = DEFAULT_CONFIG,
    ):
        from ..operators.assign import cluster_profiles

        self.spark = spark
        self.config = config
        self.out_dir = out_dir
        self.profiles = {
            name: df.persist() for name, df in
            cluster_profiles(clustered, config).items()
        }

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.assign import score_against_clusters

        new_pubs = parse_publications(
            batch_df, self.config, observe_name=None
        )
        scored = score_against_clusters(new_pubs, self.profiles, self.config)
        best = (
            scored.where(F.col("fused") >= self.config.assign_threshold)
            .groupBy("block_key", "pub_id")
            .agg(F.max(F.struct("fused", "cluster_id")).alias("_best"))
            .select(
                "block_key",
                "pub_id",
                F.col("_best.cluster_id").alias("cluster_id"),
                F.col("_best.fused").alias("fused"),
            )
        )
        assigned = new_pubs.select("block_key", "pub_id").join(
            best, ["block_key", "pub_id"], "left"
        )
        assigned.write.mode("append").parquet(f"{self.out_dir}/assignments")

    def attach(self, stream_df: DataFrame):
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .outputMode("append")
            .option("checkpointLocation", f"{self.out_dir}/_checkpoint")
        )

    def assignments(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.out_dir}/assignments")
