"""Structured Streaming tests: file source -> memory/foreachBatch sink,
driven synchronously with processAllAvailable()."""

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


def test_streaming_code_curation(spark, tmp_path):
    """The code-curation screens (quality metrics, secret scan) are
    stateless narrow projections, so they run UNCHANGED on a stream in
    append mode — assert bit-identical batch/stream results."""
    from hgcn_name_disambiguation_spark.operators.code_quality import (
        code_quality_metrics,
        scan_secrets,
    )

    src = str(tmp_path / "code_src")
    rows = [
        ("r0", "a.py", "c1", "py", "def f():\n    return 1"),
        ("r0", "b.py", "c1", "py", 'k = "AKIA' + "ABCDEFGHIJKLMNOP" + '"'),
        ("r1", "gen.py", "c1", "py",
         "# Auto-Generated by tool, DO NOT EDIT\n" + "x" * 40),
        ("r1", "long.py", "c1", "py", "z" * 1200),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
        " content string"
    )
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q1 = (
        code_quality_metrics(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cq_stream")
        .start()
    )
    q2 = (
        scan_secrets(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sec_stream")
        .start()
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
        got_cq = sorted(
            map(tuple, spark.sql("SELECT * FROM cq_stream").collect())
        )
        got_sec = sorted(
            map(tuple, spark.sql("SELECT * FROM sec_stream").collect())
        )
    finally:
        q1.stop()
        q2.stop()
    assert got_cq == sorted(map(tuple, code_quality_metrics(df).collect()))
    assert got_sec == sorted(map(tuple, scan_secrets(df).collect()))
    # the screens actually fired
    keep = {(r[1], r[-1]) for r in got_cq}  # (path, keep)
    assert ("gen.py", 0) in keep and ("long.py", 0) in keep
    assert ("a.py", 1) in keep
