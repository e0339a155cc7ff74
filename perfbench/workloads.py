"""The benchmark's workloads, run through the engine's public surfaces.

Each workload function takes a ``Bench`` (session, scratch dir, tracer
factory) and returns an ``Outcome``. Everything a workload checks for
correctness runs after its timed region.
"""

from __future__ import annotations

import dataclasses
import math
import os
import statistics
import time
import traceback

from . import corpus

# (profile, blocks, pubs per block, entities per block) per scale
SIZES = {
    "bench": {
        "batch_sparse": ("sparse", 12, 20, 4),
        "stream_ingest": ("sparse", 16, 30, 3),
    },
    "smoke": {
        "batch_sparse": ("sparse", 3, 10, 2),
        "stream_ingest": ("sparse", 3, 16, 2),
    },
}
# macro pairwise F1 floors: a run below them fails its check
F1_FLOOR = {"batch_sparse": 0.40, "stream_ingest": 0.90}
ASSIGN_ACCURACY_FLOOR = 0.75  # share of assigned arrivals given their true entity
HOLD_OUT = 0.10  # share of stream_ingest pubs that arrive after the snapshot
MICRO_BATCH = 8  # pubs per stream_ingest micro-batch


@dataclasses.dataclass
class Outcome:
    metrics: dict[str, float]  # end-to-end, untraced
    notes: dict[str, object]  # printed, not part of the result line
    attempted: int
    failed: int
    checks: dict[str, bool]
    layer_extra: dict[str, float] = dataclasses.field(default_factory=dict)


def tail(values: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return pct, statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def batch_sparse(b, seed: int, seconds: float, scale: str) -> Outcome:
    """Checkpointed batch resolution of a sparse-evidence corpus."""
    from hgcn_name_disambiguation_spark.operators.parse import parse_publications
    from hgcn_name_disambiguation_spark.plans.pipeline import verify_content_sha
    from hgcn_name_disambiguation_spark.plans.stages import (
        StageRunner,
        disambiguation_stages,
    )

    spark = b.spark
    rows = corpus.generate(seed, *SIZES[scale]["batch_sparse"])
    input_path = os.path.join(b.work, "input")
    b.frame(rows).write.parquet(input_path)
    # warm-up: Python workers, the stemming UDF and the parquet reader
    parse_publications(spark.read.parquet(input_path).repartition(4)).count()
    setup_s = b.setup_done()

    tracer = b.tracer()
    b.timed_jobs_begin()
    ops = []
    t0 = time.perf_counter()
    while True:
        i = len(ops)
        runner = disambiguation_stages(
            StageRunner(spark, os.path.join(b.work, f"ck{i}"), run_id=f"op{i}")
        )
        tracer.wrap_stages(runner)
        before = dict(tracer.calls_by_name)
        t = time.perf_counter()
        try:
            out = runner.run({"repo_files": spark.read.parquet(input_path)})
            err = None
        except Exception as e:  # an operation that raises counts as failed
            traceback.print_exc()
            out, err = None, repr(e)
        wall = time.perf_counter() - t
        calls = {k: v - before.get(k, 0) for k, v in tracer.calls_by_name.items()}
        ops.append({"wall": wall, "out": out, "err": err, "calls": calls})
        if time.perf_counter() - t0 >= seconds:
            break
    tracer.active = False
    jobs = b.timed_jobs_end()
    rss = b.peak_rss_mb()

    repo_files = spark.read.parquet(input_path)
    failed = 0
    f1s, pubs, checks = [], [], {}
    for op in ops:
        ok = op["out"] is not None
        if ok:
            n = op["out"]["pubs"].count()
            f1 = op["out"]["metrics"].agg({"f1": "avg"}).first()[0]
            sha = verify_content_sha(repo_files, op["out"]["clustered"])
            # the sparse regime must reach refine and the semantic merge
            reach = (
                op["calls"].get("semantic_cluster_merge", 0) >= 1
                and op["calls"].get("refine_clusters", 0) >= 1
            )
            checks["content_sha"] = checks.get("content_sha", True) and sha
            checks["reaches_cluster_merge"] = checks.get("reaches_cluster_merge", True) and reach
            ok = sha and reach and f1 >= F1_FLOOR["batch_sparse"]
            f1s.append(f1)
            pubs.append(n / op["wall"])
        failed += not ok
    checks["f1_floor"] = bool(f1s) and min(f1s) >= F1_FLOOR["batch_sparse"]
    checks["f1_deterministic"] = len(set(round(f, 12) for f in f1s)) <= 1
    checks["no_errors"] = failed == 0
    walls = [op["wall"] for op in ops]
    return Outcome(
        metrics={
            "setup_s": setup_s,
            "pubs_per_s": statistics.median(pubs) if pubs else 0.0,
            "op_p50_ms": 1000 * statistics.median(walls),
            "pairwise_f1": statistics.median(f1s) if f1s else 0.0,
            "peak_rss_mb": rss,
        },
        notes={
            "pipeline_runs": len(ops),
            "spark_jobs_timed": jobs,
            "input_rows": len(rows),
            "errors": [op["err"] for op in ops if op["err"]],
        },
        attempted=len(ops),
        failed=failed,
        checks=checks,
    )


def stream_ingest(b, seed: int, seconds: float, scale: str) -> Outcome:
    """Closed-loop micro-batch assignment against a clustered snapshot:
    one producer hands each micro-batch of held-out pubs to
    ``StreamingClusterAssigner.process_batch`` and waits for its
    committed append before sending the next."""
    from pyspark.sql import functions as F

    from hgcn_name_disambiguation_spark.operators.evaluate import pairwise_metrics
    from hgcn_name_disambiguation_spark.operators.parse import parse_publications
    from hgcn_name_disambiguation_spark.streaming.incremental import (
        StreamingClusterAssigner,
    )

    spark = b.spark
    rows = corpus.generate(seed, *SIZES[scale]["stream_ingest"])
    snapshot, arrivals = corpus.hold_out(rows, HOLD_OUT)
    batches = [
        arrivals[i : i + MICRO_BATCH] for i in range(0, len(arrivals), MICRO_BATCH)
    ]
    # the snapshot is the curated clustering: one cluster per true entity
    entity = F.concat(F.lit("e"), F.col("label").cast("string"))
    snap = (
        parse_publications(b.frame(snapshot), observe_name=None)
        .withColumn("cluster_id", entity)
        .localCheckpoint(eager=True)
    )
    assigner = StreamingClusterAssigner(spark, snap, os.path.join(b.work, "assign"))
    for df in assigner.profiles.values():
        df.count()
    # warm-up hand-off with pubs the snapshot already holds
    warm = [r for r in snapshot if r["lang"] == "json"][:MICRO_BATCH]
    assigner.process_batch(b.frame(warm), 0)
    setup_s = b.setup_done()

    tracer = b.tracer()
    b.timed_jobs_begin()
    assign_s: list[float] = []
    sent: list[dict] = []
    failed = 0
    err = None
    t0 = time.perf_counter()
    for i, batch in enumerate(batches):
        t = time.perf_counter()
        try:
            assigner.process_batch(b.frame(batch), 1 + i)
        except Exception as e:  # the loop's state is unknown after a failure
            traceback.print_exc()
            failed, err = 1, repr(e)
            break
        assign_s.append(time.perf_counter() - t)
        sent.extend(batch)
        if time.perf_counter() - t0 >= seconds:
            break
    wall = time.perf_counter() - t0
    tracer.active = False
    jobs = b.timed_jobs_end()
    rss = b.peak_rss_mb()

    # untimed: the rest of the arrivals in one hand-off, so that the
    # checks below judge every arrival, however many the window held
    if err is None and len(sent) < len(arrivals):
        try:
            assigner.process_batch(b.frame(arrivals[len(sent) :]), 1 + len(batches))
        except Exception as e:
            traceback.print_exc()
            failed, err = 1, repr(e)
    assigned_rows = arrivals if err is None else sent
    attempted = len(assign_s) + failed

    checks = {"no_errors": err is None}
    truth = parse_publications(b.frame(assigned_rows), observe_name=None).select(
        "block_key", "pub_id", "label", entity.alias("truth")
    )
    got = assigner.assignments().join(truth, ["block_key", "pub_id"])
    counts = got.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("block_key", "pub_id").alias("pubs"),
        F.count("cluster_id").alias("assigned"),
        F.sum((F.col("cluster_id") == F.col("truth")).cast("int")).alias("right"),
    ).first()
    n_arrived = truth.count()
    checks["one_assignment_per_pub"] = counts["rows"] == counts["pubs"] == n_arrived
    assigned_share = counts["assigned"] / n_arrived if n_arrived else 0.0
    accuracy = (counts["right"] or 0) / counts["assigned"] if counts["assigned"] else 0.0
    checks["assign_accuracy"] = accuracy >= ASSIGN_ACCURACY_FLOOR
    # pairwise F1 of the snapshot plus the arrivals in their assigned
    # clusters; an unassigned arrival is a new singleton cluster
    labelled = snap.select("block_key", "pub_id", "label", "cluster_id").unionByName(
        got.select(
            "block_key",
            "pub_id",
            "label",
            F.coalesce("cluster_id", F.concat(F.lit("new-"), "pub_id")).alias("cluster_id"),
        )
    )
    f1 = pairwise_metrics(labelled).agg({"f1": "avg"}).first()[0]
    checks["f1_floor"] = f1 >= F1_FLOOR["stream_ingest"]
    if not all(checks.values()):
        failed = attempted
    assign_tail = tail(assign_s)
    return Outcome(
        metrics={
            "setup_s": setup_s,
            "pubs_per_s": len(sent) / wall,
            "op_p50_ms": 1000 * statistics.median(assign_s) if assign_s else 0.0,
            "pairwise_f1": f1,
            "peak_rss_mb": rss,
        },
        notes={
            "snapshot_rows": len(snapshot),
            "arrivals_sent": len(sent),
            "assign_samples": len(assign_s),
            "spark_jobs_timed": jobs,
            "assign_tail_ms": (
                f"p{assign_tail[0]} {1000 * assign_tail[1]:.1f} ms"
                if assign_tail
                else "n/a (needs at least 11 samples)"
            ),
            "assign_accuracy": accuracy,
            "error": err,
        },
        attempted=max(attempted, 1),
        failed=failed if attempted else 1,
        checks=checks,
        layer_extra={"assign.assigned_share": assigned_share},
    )


WORKLOADS = {"batch_sparse": batch_sparse, "stream_ingest": stream_ingest}
