"""Benchmark of record for the disambiguation engine.

    python3 perfbench/run.py --workload batch_sparse --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Runs one workload (see ``workloads.py``)
on ``local[N]`` (N = min(4, cores)), prints each metric by name with its
unit and the outcome of every correctness check, and ends with one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
Scratch data lives under ``.bench_work/`` in the checkout and is removed
on exit, except the span files of traced runs (``.bench_work/trace/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "hgcn_name_disambiguation_spark"

END_TO_END_UNITS = {
    "setup_s": "s",
    "pubs_per_s": "pubs/s",
    "op_p50_ms": "ms",
    "pairwise_f1": "f1",
    "peak_rss_mb": "MB",
}


LAYER_UNITS = {
    "self_s": "s",
    "calls": "count",
    "rows_out": "count",
    "spark_jobs": "count",
    "tasks": "count",
    "pairs_per_s": "pairs/s",
    "bytes_written": "bytes",
    "op_p50_ms": "ms",
}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric; the remaining ones are ratios."""
    return LAYER_UNITS.get(name.rsplit(".", 1)[1], "ratio")


class Bench:
    """One benchmark process: the Spark session, its scratch dir and the
    set-up clock."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.t0 = time.perf_counter()
        self.trace = trace
        self.run_id = f"{workload}-seed{seed}-trace{int(trace)}"
        self.base = ROOT / ".bench_work"
        self.work = str(self.base / f"{self.run_id}-{os.getpid()}")
        self._tracer = None
        os.makedirs(os.path.join(self.work, "tmp"))
        # Python workers must import the engine from the checkout, whatever
        # the current directory; temp files stay inside the checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "tmp")
        from hgcn_name_disambiguation_spark.session import get_spark

        cores = min(4, os.cpu_count() or 1)
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=8,
            extra_conf={
                "spark.driver.memory": "3g",
                # a fixed, pre-touched heap keeps the JVM's resident set
                # from following the collector's sizing decisions
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms3g -XX:+AlwaysPreTouch"
                ),
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "100",
            },
        )
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    def frame(self, rows: list[dict]):
        from hgcn_name_disambiguation_spark.fixtures.generator import REPO_FILES_SCHEMA

        return self.spark.createDataFrame(rows, schema=REPO_FILES_SCHEMA)

    def setup_done(self) -> float:
        """Seconds from process start to the end of set-up."""
        return time.perf_counter() - self.t0

    def tracer(self):
        from perfbench.trace import Tracer

        self._tracer = Tracer(self.spark, self.run_id, spans=self.trace)
        self._tracer.install()
        return self._tracer

    def timed_jobs_begin(self) -> None:
        if not self.trace:  # traced runs set a job group per span
            self.spark.sparkContext.setJobGroup(f"{self.run_id}-timed", "timed")

    def timed_jobs_end(self) -> int | None:
        """Spark jobs started since ``timed_jobs_begin`` (untraced runs)."""
        if self.trace:
            return None
        sc = self.spark.sparkContext
        n = len(sc.statusTracker().getJobIdsForGroup(f"{self.run_id}-timed"))
        sc.setJobGroup(f"{self.run_id}-checks", "checks")
        return n

    def peak_rss_mb(self) -> float:
        """High-water resident set of the Spark JVM."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        from pyspark import SparkContext

        if self._tracer is not None:
            self._tracer.uninstall()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help="input sizes; 'smoke' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"error: engine package {PKG}/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        out = WORKLOADS[args.workload](bench, args.seed, args.seconds, args.scale)
        if args.trace:
            tracer = bench._tracer
            tracer.collect_jobs()
            metrics = tracer.layer_metrics()
            # a workload that assigns nothing still reports the share, so
            # every traced run prints the same per-layer names
            metrics["assign.assigned_share"] = 0.0
            metrics.update(out.layer_extra)
            metrics["traced.op_p50_ms"] = out.metrics["op_p50_ms"]
            trace_dir = bench.base / "trace"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.write(str(trace_dir / f"{bench.run_id}.jsonl"))
            units = {k: layer_unit(k) for k in metrics}
        else:
            metrics = out.metrics
            units = END_TO_END_UNITS
    finally:
        bench.close()

    for k, v in out.notes.items():
        print(f"# {k}: {v}")
    for k, v in out.checks.items():
        print(f"# check {k}: {'ok' if v else 'FAILED'}")
    print(f"error_rate {out.failed / out.attempted} ratio ({out.failed} of {out.attempted} failed)")
    for k, v in metrics.items():
        print(f"{k} {v} {units[k]}")
    result = {
        "correct": all(out.checks.values()),
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
