"""Checkpointed, resumable pipeline runner (north_rule: "every stage
writes per-partition lineage + counters and checkpoints ... so a
killed run resumes at the last completed stage").

Design:
- Each stage is (name, fn: dict[str, DataFrame] -> DataFrame); its
  output is materialized via TableIO (Iceberg snapshot or parquet +
  commit marker — see io.catalog), so stage boundaries are durable.
- A stage is SKIPPED on re-run when its checkpoint is committed —
  resume-at-last-completed-stage falls out of the write-then-commit
  contract; a kill mid-stage leaves no marker, so only that stage
  re-runs.
- Every executed stage gets a lineage row: run_id, stage, rows,
  n_partitions (parquet files written), max/min rows per file (skew
  visibility) and wall seconds. The counts come from the footers of
  the files just written, and the stage is read back with the schema
  it was written with, so a stage boundary costs its write and no
  other Spark job. The rows are kept in the runner and appended once
  per `run()`, in a `finally`: a stage that raises keeps the rows
  of the stages before it, while a run killed outright (SIGKILL) loses
  its lineage rows but keeps its committed stages. The lineage table
  is a queryable DataFrame (`runner.lineage()`); this run's rows are
  also a list (`runner.lineage_rows`). For `matches` the rows
  are the scored pairs plus one trait row per block (see
  `disambiguation_stages`).

The reference has no notion of resume (a killed batch_disambiguation
run restarts from scratch — `batch_disambiguation.py:94-101`); this is
new, mandated capability.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..io.catalog import TableIO

StageFn = Callable[[dict[str, DataFrame]], DataFrame]


_LINEAGE_SCHEMA = (
    "run_id string, stage string, rows long, n_partitions long,"
    " max_partition_rows long, min_partition_rows long, wall_sec double"
)


@dataclass
class Stage:
    name: str
    fn: StageFn


@dataclass
class StageRunner:
    spark: SparkSession
    workdir: str
    stages: list[Stage] = field(default_factory=list)
    run_id: str = "run"

    def __post_init__(self):
        self.io = TableIO(self.spark, self.workdir)
        self.executed: list[str] = []
        self.skipped: list[str] = []
        self.lineage_rows: list[dict] = []  # this run's, see run()

    def add(self, name: str, fn: StageFn):
        self.stages.append(Stage(name, fn))
        return self

    def run(self, inputs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Execute all stages; resume skips committed ones. Returns
        {stage_name: checkpointed DataFrame} (reads, not lineage). The
        lineage rows of the stages executed, ``lineage_rows``, are
        appended once, also when a stage raises."""
        available = dict(inputs)
        self.lineage_rows = []
        try:
            for st in self.stages:
                ck = f"stage_{st.name}"
                if self.io.exists(ck):
                    available[st.name] = self.io.read(ck)
                    self.skipped.append(st.name)
                    continue
                t0 = time.perf_counter()
                out = st.fn(available)
                self.io.write(ck, out)
                wall = time.perf_counter() - t0
                materialized = self.io.read(ck, schema=out.schema)
                counts = self.io.file_row_counts(ck, materialized)
                self.lineage_rows.append({
                    "run_id": self.run_id,
                    "stage": st.name,
                    "rows": sum(counts),
                    "n_partitions": len(counts),
                    "max_partition_rows": max(counts, default=0),
                    "min_partition_rows": min(counts, default=0),
                    "wall_sec": round(wall, 3),
                })
                available[st.name] = materialized
                self.executed.append(st.name)
        finally:
            if self.lineage_rows:
                # from pandas, the rows are an Arrow local relation: its
                # append costs a fifth of one from a list of rows
                rows = pd.DataFrame(self.lineage_rows)
                lineage = self.spark.createDataFrame(rows, _LINEAGE_SCHEMA)
                self.io.append("_lineage", lineage.coalesce(1))
        return {st.name: available[st.name] for st in self.stages}

    def lineage(self) -> DataFrame:
        return self.io.read("_lineage")


def disambiguation_stages(runner: StageRunner, config=None) -> StageRunner:
    """Wire the standard 4-stage ER pipeline (pubs, matches, clustered,
    metrics) onto a runner. Input key: 'repo_files'.

    ``stage_matches`` holds the per-block match kernel's whole output
    (``MatchContext.frame``), built straight from ``pubs``: every
    candidate pair with its scores and flags, plus one trait row per
    block, so its lineage ``rows`` counts both. It is all that
    ``clustered`` reads besides ``pubs``, so a run resumed at that
    boundary clusters straight from the checkpoint."""
    from ..config import DEFAULT_CONFIG
    from ..operators.evaluate import pairwise_metrics
    from ..operators.parse import parse_publications
    from ..plans.pipeline import (
        MatchContext, build_match_context, cluster_from_context,
    )

    cfg = config or DEFAULT_CONFIG
    runner.add("pubs", lambda d: parse_publications(d["repo_files"], cfg))
    runner.add("matches", lambda d: build_match_context(d["pubs"], cfg).frame)
    runner.add(
        "clustered",
        lambda d: cluster_from_context(
            d["pubs"], MatchContext(d["matches"]), cfg
        ),
    )
    runner.add("metrics", lambda d: pairwise_metrics(d["clustered"]))
    return runner
