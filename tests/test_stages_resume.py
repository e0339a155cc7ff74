"""Checkpoint/resume + lineage tests (north-rule gates)."""

from pyspark.sql import functions as F

from hgcn_name_disambiguation_spark.plans.stages import (
    StageRunner,
    disambiguation_stages,
)


def test_resume_skips_completed_stages(spark, fixture_repo_files, tmp_path):
    wd = str(tmp_path / "run1")

    r1 = disambiguation_stages(StageRunner(spark, wd, run_id="r1"))
    out1 = r1.run({"repo_files": fixture_repo_files})
    assert r1.executed == ["pubs", "edges", "matches", "clustered", "metrics"]
    assert r1.skipped == []
    sig1 = sorted(
        (x.block_key, x.pub_id, x.cluster_id)
        for x in out1["clustered"].collect()
    )

    # simulate a kill AFTER 'edges': wipe later stage checkpoints
    import shutil

    for st in ["matches", "clustered", "metrics"]:
        shutil.rmtree(f"{wd}/stage_{st}")

    r2 = disambiguation_stages(StageRunner(spark, wd, run_id="r2"))
    out2 = r2.run({"repo_files": fixture_repo_files})
    assert r2.skipped == ["pubs", "edges"]
    assert r2.executed == ["matches", "clustered", "metrics"]
    sig2 = sorted(
        (x.block_key, x.pub_id, x.cluster_id)
        for x in out2["clustered"].collect()
    )
    assert sig1 == sig2  # resume reproduces identical output


def test_uncommitted_stage_reruns(spark, fixture_repo_files, tmp_path):
    """A crash mid-write leaves no _COMMITTED marker -> stage re-runs."""
    import os

    wd = str(tmp_path / "run2")
    r1 = disambiguation_stages(StageRunner(spark, wd))
    r1.run({"repo_files": fixture_repo_files})
    os.remove(f"{wd}/stage_matches/_COMMITTED")  # simulate torn write

    r2 = disambiguation_stages(StageRunner(spark, wd))
    r2.run({"repo_files": fixture_repo_files})
    assert "matches" in r2.executed and "pubs" in r2.skipped


def test_lineage_rows(spark, fixture_repo_files, tmp_path):
    wd = str(tmp_path / "run3")
    r = disambiguation_stages(StageRunner(spark, wd, run_id="rX"))
    r.run({"repo_files": fixture_repo_files})
    lin = r.lineage()
    rows = {x.stage: x for x in lin.collect()}
    assert set(rows) == {"pubs", "edges", "matches", "clustered", "metrics"}
    n_pubs = fixture_repo_files.where(F.col("lang") == "json").count()
    assert rows["pubs"].rows == n_pubs
    assert rows["pubs"].n_partitions >= 1
    assert all(x.wall_sec > 0 for x in rows.values())


def test_resume_from_uri_workdir(spark, fixture_repo_files, tmp_path):
    """A `file://` workdir commits and finds its stage markers (they go
    through the Hadoop FileSystem API, as an hdfs:// or s3a:// root
    needs), so a second runner skips every stage."""
    wd = (tmp_path / "run4").as_uri()
    r1 = disambiguation_stages(StageRunner(spark, wd))
    r1.run({"repo_files": fixture_repo_files})
    assert r1.executed == ["pubs", "edges", "matches", "clustered", "metrics"]

    r2 = disambiguation_stages(StageRunner(spark, wd))
    r2.run({"repo_files": fixture_repo_files})
    assert r2.skipped == ["pubs", "edges", "matches", "clustered", "metrics"]
    assert r2.executed == []


def test_resume_from_matches_boundary(spark, fixture_repo_files, tmp_path):
    """A run killed after 'matches' clusters straight from the
    checkpointed match-kernel output: a fresh runner re-runs only
    'clustered' and 'metrics', with the same cluster ids."""
    import shutil

    wd = str(tmp_path / "run5")
    r1 = disambiguation_stages(StageRunner(spark, wd))
    out1 = r1.run({"repo_files": fixture_repo_files})
    sig1 = sorted(
        (x.block_key, x.pub_id, x.cluster_id)
        for x in out1["clustered"].collect()
    )
    for st in ["clustered", "metrics"]:
        shutil.rmtree(f"{wd}/stage_{st}")

    r2 = disambiguation_stages(StageRunner(spark, wd))
    out2 = r2.run({"repo_files": fixture_repo_files})
    assert r2.skipped == ["pubs", "edges", "matches"]
    assert r2.executed == ["clustered", "metrics"]
    sig2 = sorted(
        (x.block_key, x.pub_id, x.cluster_id)
        for x in out2["clustered"].collect()
    )
    assert sig1 == sig2
