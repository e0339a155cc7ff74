"""Checkpoint/resume + lineage tests (north-rule gates)."""

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from hgcn_name_disambiguation_spark.plans.stages import (
    StageRunner,
    disambiguation_stages,
)

STAGES = ["pubs", "matches", "clustered", "metrics"]


def test_resume_skips_completed_stages(spark, fixture_repo_files, tmp_path):
    wd = str(tmp_path / "run1")

    r1 = disambiguation_stages(StageRunner(spark, wd, run_id="r1"))
    out1 = r1.run({"repo_files": fixture_repo_files})
    assert r1.executed == STAGES
    assert r1.skipped == []
    sig1 = sorted(
        (x.block_key, x.pub_id, x.cluster_id)
        for x in out1["clustered"].collect()
    )

    # simulate a kill AFTER 'pubs': wipe later stage checkpoints
    for st in ["matches", "clustered", "metrics"]:
        shutil.rmtree(f"{wd}/stage_{st}")

    r2 = disambiguation_stages(StageRunner(spark, wd, run_id="r2"))
    out2 = r2.run({"repo_files": fixture_repo_files})
    assert r2.skipped == ["pubs"]
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


# Spark jobs a staged run on the fixture launches, as measured: four
# stage writes, one lineage append and the stages' own work.
STAGED_RUN_JOBS = 15


@pytest.fixture(scope="module")
def staged_run(spark, fixture_repo_files, tmp_path_factory):
    """One fresh staged run on the fixture: (runner, outputs, workdir,
    Spark jobs it launched)."""
    wd = str(tmp_path_factory.mktemp("staged"))
    sc = spark.sparkContext
    sc.setJobGroup("staged_run", "staged_run")
    try:
        r = disambiguation_stages(StageRunner(spark, wd, run_id="rX"))
        out = r.run({"repo_files": fixture_repo_files})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("staged_run"))
    return r, out, wd, jobs


def test_lineage_rows(spark, fixture_repo_files, staged_run):
    r, out, wd, _ = staged_run
    rows = {x.stage: x for x in r.lineage().collect()}
    assert set(rows) == set(STAGES)
    n_pubs = fixture_repo_files.where(F.col("lang") == "json").count()
    assert rows["pubs"].rows == n_pubs
    for st in STAGES:
        files = glob.glob(f"{wd}/stage_{st}/part-*")
        assert rows[st].rows == out[st].count(), st
        assert rows[st].n_partitions == len(files) >= 1, st
        assert rows[st].min_partition_rows <= rows[st].max_partition_rows
        assert rows[st].run_id == "rX"
    assert all(x.wall_sec > 0 for x in rows.values())


def test_readback_schema_equals_inferred(spark, staged_run):
    """Each stage is read back with the schema it was written with; it
    equals the schema parquet inference finds in the files."""
    _, out, wd, _ = staged_run
    for st in STAGES:
        assert out[st].schema == spark.read.parquet(f"{wd}/stage_{st}").schema, st


def test_staged_run_job_count(staged_run):
    """A stage boundary costs its write: no schema-inference or
    per-stage lineage job may creep back in."""
    *_, jobs = staged_run
    assert jobs <= STAGED_RUN_JOBS


def test_failed_stage_keeps_earlier_lineage(spark, tmp_path):
    """A stage that raises still leaves the lineage rows of the stages
    that finished before it; the failed stage has no row or marker."""

    def boom(d):
        raise RuntimeError("stage failed")

    wd = str(tmp_path / "run7")
    r = StageRunner(spark, wd, run_id="rF")
    r.add("a", lambda d: d["x"]).add("b", lambda d: d["a"]).add("c", boom)
    with pytest.raises(RuntimeError, match="stage failed"):
        r.run({"x": spark.range(10)})
    assert r.executed == ["a", "b"]
    got = sorted((x.run_id, x.stage, x.rows) for x in r.lineage().collect())
    assert got == [("rF", "a", 10), ("rF", "b", 10)]
    assert [x["stage"] for x in r.lineage_rows] == ["a", "b"]
    assert not r.io.exists("stage_c")


def test_resume_from_uri_workdir(spark, fixture_repo_files, tmp_path):
    """A `file://` workdir commits and finds its stage markers (they go
    through the Hadoop FileSystem API, as an hdfs:// or s3a:// root
    needs), so a second runner skips every stage."""
    wd = (tmp_path / "run4").as_uri()
    r1 = disambiguation_stages(StageRunner(spark, wd))
    r1.run({"repo_files": fixture_repo_files})
    assert r1.executed == STAGES

    r2 = disambiguation_stages(StageRunner(spark, wd))
    r2.run({"repo_files": fixture_repo_files})
    assert r2.skipped == STAGES
    assert r2.executed == []


def test_resume_from_matches_boundary(spark, fixture_repo_files, tmp_path):
    """A run killed after 'matches' clusters straight from the
    checkpointed match-kernel output: a fresh runner re-runs only
    'clustered' and 'metrics', with the same cluster ids, and appends
    lineage rows for those two stages only, under its own run_id."""
    wd = str(tmp_path / "run5")
    r1 = disambiguation_stages(StageRunner(spark, wd, run_id="r1"))
    out1 = r1.run({"repo_files": fixture_repo_files})
    sig1 = sorted(
        (x.block_key, x.pub_id, x.cluster_id)
        for x in out1["clustered"].collect()
    )
    for st in ["clustered", "metrics"]:
        shutil.rmtree(f"{wd}/stage_{st}")

    r2 = disambiguation_stages(StageRunner(spark, wd, run_id="r2"))
    out2 = r2.run({"repo_files": fixture_repo_files})
    assert r2.skipped == ["pubs", "matches"]
    assert r2.executed == ["clustered", "metrics"]
    assert sorted((x.run_id, x.stage) for x in r2.lineage().collect()) == sorted(
        [("r1", st) for st in STAGES] + [("r2", "clustered"), ("r2", "metrics")]
    )
    sig2 = sorted(
        (x.block_key, x.pub_id, x.cluster_id)
        for x in out2["clustered"].collect()
    )
    assert sig1 == sig2
