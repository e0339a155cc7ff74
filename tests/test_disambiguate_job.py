"""End-to-end test of the spark-submit entry point (jobs/disambiguate.py).

The job runs in its own spark-submit JVM with the package shipped as a
``--py-files`` zip, the way it is deployed. ``SPARK_GRAFT_CPUS`` is set
to a value different from ``--master`` so that the summary's ``master``
shows whether the session kept the submitted master.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyspark

from hgcn_name_disambiguation_spark.fixtures.generator import (
    REPO_FILES_SCHEMA,
    generate_repo_files,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hgcn_name_disambiguation_spark"


def _spark_submit() -> str:
    bundled = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return bundled if os.path.exists(bundled) else shutil.which("spark-submit")


def test_spark_submit_checkpointed_run(spark, tmp_path):
    zip_path = shutil.make_archive(str(tmp_path / PKG), "zip", REPO, PKG)
    src = str(tmp_path / "repo_files")
    rows = generate_repo_files(seed=7, blocks=2, pubs_per_block=15, skew_factor=2)
    spark.createDataFrame(rows, REPO_FILES_SCHEMA).coalesce(1).write.parquet(src)
    out = tmp_path / "out"

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="3",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[2]",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "disambiguate.py"),
            "--input", src,
            "--output", str(out),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--shuffle-partitions", "4",
            "--verify-sha",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["sha_verified"] is True
    assert summary["master"] == "local[2]"
    assert summary["rows_clustered"] > 0
    for name in ("clustered", "metrics", "lineage", "clusters_json"):
        assert (out / name).is_dir(), name
