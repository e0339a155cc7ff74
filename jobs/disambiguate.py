"""spark-submit entry point for the full disambiguation pipeline.

North-rule operational surface: the whole job submits with

    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/hgcn_name_disambiguation_spark.zip \
        jobs/disambiguate.py \
        --input  /path/to/repo_files_parquet_or_table \
        --output /path/to/out \
        [--checkpoint /path/to/ckpt]   # resume at last completed stage
        [--threshold 0.20] [--enrich]

The session (``session.get_spark``) sets NO master under spark-submit:
``--master`` owns cluster sizing (local[N] on one host; N vs 4N
executors on a real cluster). Replaces the reference's
subprocess-per-name orchestrator (``batch_disambiguation.py:38-76``)
with one Spark application over all name blocks.

Outputs under --output:
  clustered/   parquet: pub_id, block_key, cluster_id, content_sha, ...
  metrics/     parquet: per-block pairwise P/R/F1 (when labels exist)
  lineage/     parquet: per-stage row counts + wall seconds
  clusters_json/  reference-format cluster report (S8 parity sink)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="repo_files parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None,
                    help="stage-checkpoint dir; enables resume-at-last-stage")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--enrich", action="store_true",
                    help="enable the Jaro-Winkler/Jaccard enrichment pass "
                    "(off by default, matching PipelineConfig: the flat "
                    "string-sim bonus over-merges dense-evidence corpora — "
                    "measured block precision 1.0 -> 0.18 on fixtures; "
                    "opt in for sparse corpora where it is worth ~+1 F1)")
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--verify-sha", action="store_true",
                    help="assert per-row sha2(content,256) survives end-to-end")
    args = ap.parse_args(argv)

    # py-files puts the zip on sys.path for the driver; nothing else needed.
    import dataclasses

    from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
    from hgcn_name_disambiguation_spark.operators.report import write_clusters_json
    from hgcn_name_disambiguation_spark.plans.pipeline import (
        run_pipeline, verify_content_sha,
    )
    from hgcn_name_disambiguation_spark.plans.stages import (
        StageRunner, disambiguation_stages,
    )
    from hgcn_name_disambiguation_spark.session import get_spark

    overrides: dict = {"enrich": args.enrich}
    if args.threshold is not None:
        overrides["match_threshold"] = args.threshold
    cfg = dataclasses.replace(DEFAULT_CONFIG, **overrides)
    if cfg.enrich:
        print(
            "WARNING: enrichment pass active — on dense-evidence corpora "
            "the string-sim bonus can over-merge (measured precision "
            "collapse on dense fixtures); calibrated for sparse corpora.",
            file=sys.stderr,
        )

    spark = get_spark("disambiguate", shuffle_partitions=args.shuffle_partitions)
    t0 = time.perf_counter()
    repo_files = spark.read.parquet(args.input)

    if args.checkpoint:
        runner = StageRunner(spark, args.checkpoint)
        runner = disambiguation_stages(runner, cfg)
        outputs = runner.run({"repo_files": repo_files})
        clustered = outputs["clustered"]
        metrics = outputs["metrics"]
        lineage = runner.lineage()
    else:
        result = run_pipeline(repo_files, cfg)
        clustered = result.clustered
        metrics = result.metrics
        lineage = None

    clustered.write.mode("overwrite").parquet(f"{args.output}/clustered")
    metrics.write.mode("overwrite").parquet(f"{args.output}/metrics")
    if lineage is not None:
        lineage.write.mode("overwrite").parquet(f"{args.output}/lineage")
    clustered_back = spark.read.parquet(f"{args.output}/clustered")
    write_clusters_json(clustered_back, f"{args.output}/clusters_json")

    ok = True
    if args.verify_sha:
        ok = verify_content_sha(repo_files, clustered_back)

    n = clustered_back.count()
    summary = {
        "master": spark.sparkContext.master,
        "rows_clustered": n,
        "clusters": clustered_back.select("block_key", "cluster_id")
        .distinct()
        .count(),
        "wall_s": round(time.perf_counter() - t0, 2),
        "sha_verified": ok if args.verify_sha else None,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
