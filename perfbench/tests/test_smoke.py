"""Tiny end-to-end runs of every workload through the benchmark command.

Each run starts its own Spark JVM and takes about a minute.
"""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.run import END_TO_END_UNITS
from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]


def bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=400,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_is_correct(workload):
    p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", "0", "--scale", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(END_TO_END_UNITS)
    for name, m in result["metrics"].items():
        assert m["unit"] == END_TO_END_UNITS[name]
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_prints_every_per_layer_metric(workload):
    p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", "1", "--scale", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True, p.stdout
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = bench("--workload", "batch_sparse", "--seed", "1", "--seconds", "1",
              "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_benchmark_json_lists_what_the_command_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert os.path.isdir(ROOT / spec["paths"][0])
