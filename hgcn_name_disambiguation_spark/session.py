"""SparkSession factory tuned for the record-linkage workload.

Design notes (scale-first):
- AQE on: runtime coalescing + skew-join splitting for the skewed
  name-block self-joins (reference processes blocks sequentially and
  OOMs on dense matrices, ``GCN.py:109-116``; we shuffle-partition by
  block and let AQE split stragglers).
- Arrow on: every Python crossing is a vectorized batch, never per-row
  (north-rule requirement).
- shuffle.partitions defaults to the local core count, not 200 —
  on a real cluster this is set per-job via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hgcn-disambiguation",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master=None`` under spark-submit (the driver then attaches to the
    submit-time JVM, whose ``PYSPARK_GATEWAY_PORT`` is set) sets no
    master, so the session inherits ``--master``. Launched by plain
    ``python``, it defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else
    all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus != "*" else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(n, 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Round-6 memory stability (guide §5): checkpointed/persisted
        # frames from earlier queries in a long-lived session occupy
        # the UNEVICTABLE storage region (default 50% of unified
        # memory) and can starve a later query's hash aggregates
        # (observed: SparkOutOfMemoryError in the BFS hop dedup at
        # sf1.0 after the walk queries' caches accumulated). Keep the
        # protected-storage floor low — execution may evict cached
        # blocks to disk — and GC the driver periodically so RDDs
        # whose Python references are gone actually release their
        # blocks between queries instead of after 30 minutes.
        .config("spark.memory.storageFraction", "0.3")
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
