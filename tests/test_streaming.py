"""Structured Streaming tests: file source -> memory/foreachBatch sink,
driven synchronously with processAllAvailable()."""

import json

import pytest

from hgcn_name_disambiguation_spark.config import PipelineConfig
from hgcn_name_disambiguation_spark.fixtures.generator import (
    REPO_FILES_SCHEMA,
    generate_repo_files,
)
from hgcn_name_disambiguation_spark.plans.pipeline import run_pipeline
from hgcn_name_disambiguation_spark.streaming.incremental import IncrementalDisambiguator


def test_incremental_matches_batch(spark, tmp_path):
    """Incremental foreachBatch ER == batch pipeline on the union —
    the correctness contract for the streaming mode."""
    rows = generate_repo_files(seed=11, blocks=3, pubs_per_block=15, skew_factor=2)
    half = len(rows) // 2
    src = str(tmp_path / "rf_src")
    store = str(tmp_path / "er_store")

    # two files = two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(rows[:half], REPO_FILES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows[half:], REPO_FILES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    inc = IncrementalDisambiguator(spark, store)
    stream = (
        spark.readStream.schema(REPO_FILES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = inc.attach(stream).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r.block_key, r.pub_id, r.cluster_id)
        for r in inc.clusters().select("block_key", "pub_id", "cluster_id").collect()
    )
    batch = run_pipeline(
        spark.createDataFrame(rows, REPO_FILES_SCHEMA)
    ).clustered
    want = sorted(
        (r.block_key, r.pub_id, r.cluster_id)
        for r in batch.select("block_key", "pub_id", "cluster_id").collect()
    )
    assert got == want


def test_incremental_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch replays a failed micro-batch under the same
    batch_id: replaying batch 0 before batch 1 leaves one row per pub
    and the same cluster ids as a run without the replay."""
    rows = generate_repo_files(seed=7, blocks=2, pubs_per_block=15, skew_factor=2)
    half = len(rows) // 2
    first = spark.createDataFrame(rows[:half], REPO_FILES_SCHEMA)
    second = spark.createDataFrame(rows[half:], REPO_FILES_SCHEMA)

    def run(store, batches):
        inc = IncrementalDisambiguator(spark, str(tmp_path / store))
        for df, batch_id in batches:
            inc.process_batch(df, batch_id)
        return inc

    replayed = run("replayed", [(first, 0), (first, 0), (second, 1)])
    clean = run("clean", [(first, 0), (second, 1)])
    got = replayed.clusters().select("block_key", "pub_id", "cluster_id")
    assert got.count() == got.select("block_key", "pub_id").distinct().count()
    assert (
        spark.read.parquet(str(tmp_path / "replayed" / "pubs_store")).count()
        == spark.read.parquet(str(tmp_path / "clean" / "pubs_store")).count()
    )
    assert "batch_id" not in replayed.clusters().columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(
            tuple,
            clean.clusters().select("block_key", "pub_id", "cluster_id").collect(),
        )
    )


@pytest.mark.xfail(
    strict=True,
    reason="ROADMAP item 9: each micro-batch names repeated raw pub_ids "
    "on its own, so a re-harvest in a later batch keeps the raw id",
)
def test_incremental_repeated_raw_id_matches_batch(spark, tmp_path):
    """A row in batch 1 that reuses a batch-0 row's raw pub_id and block
    with an edited title (a re-harvest): incremental ER still keeps one
    row per (block_key, pub_id) and the clusters of the batch pipeline
    on the union, which names the row with the greater content_sha
    ``<id>#1``."""
    cfg = PipelineConfig(semantic_merge=False)
    rows = generate_repo_files(seed=11, blocks=2, pubs_per_block=12, skew_factor=2)
    record = json.loads(rows[0]["content"])
    record["title"] += " revisited"
    reharvest = dict(
        rows[0], content=json.dumps(record, sort_keys=True, separators=(",", ":"))
    )
    half = len(rows) // 2
    batches = [rows[:half], rows[half:] + [reharvest]]

    inc = IncrementalDisambiguator(spark, str(tmp_path / "store"), cfg)
    for batch_id, batch in enumerate(batches):
        inc.process_batch(spark.createDataFrame(batch, REPO_FILES_SCHEMA), batch_id)

    got = inc.clusters().select("block_key", "pub_id", "cluster_id")
    assert got.count() == got.select("block_key", "pub_id").distinct().count()
    batch = run_pipeline(
        spark.createDataFrame(rows + [reharvest], REPO_FILES_SCHEMA), cfg
    ).clustered
    want = batch.select("block_key", "pub_id", "cluster_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

