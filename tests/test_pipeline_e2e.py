"""End-to-end golden test: fixture blocks -> clusters, F1 >= 0.99,
sha256 invariant, partition property, permutation invariance
(SURVEY §5.1; north-rule gates)."""

from pyspark.sql import functions as F

from hgcn_name_disambiguation_spark.plans.pipeline import (
    run_pipeline,
    verify_content_sha,
)


def test_pipeline_f1_target(spark, fixture_repo_files):
    result = run_pipeline(fixture_repo_files)
    per_block = result.metrics.collect()
    assert len(per_block) >= 4
    for r in per_block:
        assert r.f1 >= 0.99, f"block {r.block_key}: f1={r.f1}"


def test_content_sha_invariant(spark, fixture_repo_files):
    result = run_pipeline(fixture_repo_files)
    assert verify_content_sha(fixture_repo_files, result.clustered)


def test_output_is_partition(spark, fixture_repo_files):
    clustered = run_pipeline(fixture_repo_files).clustered
    n_in = fixture_repo_files.where(F.col("lang") == "json").count()
    # every json row lands in exactly one cluster
    assert clustered.count() == n_in
    assert clustered.where(F.col("cluster_id").isNull()).count() == 0


def test_row_order_invariance(spark, fixture_repo_files):
    shuffled = fixture_repo_files.orderBy(F.reverse(F.col("commit")))
    a = run_pipeline(fixture_repo_files).clustered
    b = run_pipeline(shuffled).clustered
    sig_a = sorted((r.block_key, r.pub_id, r.cluster_id) for r in a.collect())
    sig_b = sorted((r.block_key, r.pub_id, r.cluster_id) for r in b.collect())
    assert sig_a == sig_b


def test_ambiguity_gate_reads_strong_components(spark):
    """The ambiguity gate closes an amb-tier block whose strong-evidence
    graph is fragmented (largest component < amb_gate_bigfrac of the
    block) and leaves open one that a single component dominates. Both
    blocks reuse the same pub ids, so a component leaking across
    blocks would change either verdict: "j smith" would see p1..p4 as
    one component of 4/8 and open."""
    from dataclasses import replace

    from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
    from hgcn_name_disambiguation_spark.plans.pipeline import (
        build_match_context,
    )

    cfg = replace(DEFAULT_CONFIG, amb_gate_min_n=4)
    pubs = spark.createDataFrame(
        [("j smith", f"p{i}") for i in range(1, 9)]
        + [("j jones", f"p{i}") for i in range(1, 6)],
        ["block_key", "pub_id"],
    )
    coauthor = lambda bk, a, b: (bk, a, b, 1.0, 0.0, 0.0, 0.0, 0.0)  # noqa: E731
    venue = lambda bk, a, b: (bk, a, b, 0.0, 0.0, 0.0, 1.0, 0.0)  # noqa: E731
    edges = spark.createDataFrame(
        [
            # j smith: strong components {p1,p2} {p3,p4}, largest 2/8
            coauthor("j smith", "p1", "p2"),
            coauthor("j smith", "p3", "p4"),
            venue("j smith", "p2", "p3"),
            # j jones: strong chain p1..p4, largest 4/5
            coauthor("j jones", "p1", "p2"),
            coauthor("j jones", "p2", "p3"),
            coauthor("j jones", "p3", "p4"),
            venue("j jones", "p4", "p5"),
        ],
        "block_key string, id_a string, id_b string, w_coauthor double, "
        "w_title double, title_cos double, w_venue double, w_org double",
    )
    ctx = build_match_context(pubs, edges, cfg)
    gated = {r.block_key: r.gated for r in ctx.traits.collect()}
    assert gated == {"j smith": True, "j jones": False}
    # the gated block's venue-only bridge is dropped, the open one kept
    weak = {
        (r.block_key, r.id_a, r.id_b)
        for r in ctx.matches.collect()
        if (r.block_key, r.id_a, r.id_b)
        in {("j smith", "p2", "p3"), ("j jones", "p4", "p5")}
    }
    assert weak == {("j jones", "p4", "p5")}
