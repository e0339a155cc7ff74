"""Incremental cluster assignment (operators/assign.py +
streaming.StreamingClusterAssigner): hand-computed channel math,
threshold/NULL semantics, hot-key capping, edge cases, fixture-accuracy,
bit-exact scores under any partitioning, the batch == stream contract,
exactly-once replay and the assigner's Spark job counts."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG, PipelineConfig
from hgcn_name_disambiguation_spark.operators.assign import (
    assign_to_clusters,
    cluster_profiles,
    score_against_clusters,
)

PUB_SCHEMA = StructType(
    [
        StructField("block_key", StringType()),
        StructField("pub_id", StringType()),
        StructField("title", StringType()),
        StructField("authors", ArrayType(StringType())),
        StructField("venue", StringType()),
        StructField("title_toks", ArrayType(StringType())),
    ]
)


def _pub(bk, pid, toks, authors, venue, cluster=None):
    row = (bk, pid, " ".join(toks), authors, venue, toks)
    return row if cluster is None else row + (cluster,)


@pytest.fixture(scope="module")
def tiny(spark):
    """Snapshot: one block, two clusters.
    c1 = {p1: toks [alpha, beta], authors [ann], venue v1}
    c2 = {p2: toks [gamma, delta], authors [bob], venue v2}
    """
    snap_schema = StructType(PUB_SCHEMA.fields + [
        StructField("cluster_id", StringType())
    ])
    snap = spark.createDataFrame(
        [
            _pub("b", "p1", ["alpha", "beta"], ["ann"], "v1", "c1"),
            _pub("b", "p2", ["gamma", "delta"], ["bob"], "v2", "c2"),
        ],
        snap_schema,
    )
    return snap


def test_channel_math_hand_computed(spark, tiny):
    """New pub shares one token (alpha) + the coauthor with c1 and
    nothing with c2. n_block=2, every snapshot token df=1 ->
    idf = ln(3). Pub toks = [alpha, zeta]; zeta unseen -> idf =
    ln(3) too. T = ln3^2 / (sqrt(2)ln3 * sqrt(2)ln3) = 0.5;
    fused(c1) = (5*1 + 1*0.5 + 4*0) / 10 = 0.55."""
    new = spark.createDataFrame(
        [_pub("b", "n1", ["alpha", "zeta"], ["ann"], "vX")], PUB_SCHEMA
    )
    scored = score_against_clusters(
        new, cluster_profiles(tiny), DEFAULT_CONFIG
    ).collect()
    by_cluster = {r.cluster_id: r for r in scored}
    assert set(by_cluster) == {"c1"}  # no shared anything with c2
    r = by_cluster["c1"]
    assert r.a == 1.0 and r.v == 0.0
    assert r.t == pytest.approx(0.5, abs=1e-12)
    assert r.fused == pytest.approx(0.55, abs=1e-12)

    out = assign_to_clusters(new, tiny, DEFAULT_CONFIG).collect()
    assert len(out) == 1
    assert out[0].cluster_id == "c1"
    assert out[0].fused == pytest.approx(0.55, abs=1e-12)


def test_threshold_null_and_tiebreak(spark, tiny):
    """A title-only match (fused <= 0.1) stays NULL at the default
    threshold; a venue tie between two clusters breaks toward the
    GREATEST cluster_id (the deterministic max(struct) rule)."""
    new = spark.createDataFrame(
        [_pub("b", "n2", ["alpha"], ["nobody"], "vX")], PUB_SCHEMA
    )
    out = assign_to_clusters(new, tiny, DEFAULT_CONFIG).collect()
    assert len(out) == 1 and out[0].cluster_id is None

    # tie: same venue in two clusters, no tokens, no authors
    snap_schema = tiny.schema
    snap2 = spark.createDataFrame(
        [
            _pub("b", "p1", ["alpha"], ["ann"], "v1", "c1"),
            _pub("b", "p2", ["beta"], ["bob"], "v1", "c2"),
        ],
        snap_schema,
    )
    new2 = spark.createDataFrame(
        [_pub("b", "n3", ["omega"], ["nobody"], "v1")], PUB_SCHEMA
    )
    out2 = assign_to_clusters(new2, snap2, DEFAULT_CONFIG).collect()
    assert out2[0].cluster_id == "c2"
    assert out2[0].fused == pytest.approx(0.4, abs=1e-12)


def test_hot_key_cap_drops_uninformative_author(spark):
    """An author present in > assign_hot_key_clusters clusters is
    dropped from the candidate index: no assignment through it."""
    cfg = PipelineConfig(assign_hot_key_clusters=2)
    snap_schema = StructType(PUB_SCHEMA.fields + [
        StructField("cluster_id", StringType())
    ])
    snap = spark.createDataFrame(
        [
            _pub("b", f"p{i}", [f"tok{i}"], ["hot"], f"v{i}", f"c{i}")
            for i in range(3)
        ],
        snap_schema,
    )
    new = spark.createDataFrame(
        [_pub("b", "n1", ["nothing"], ["hot"], "vX")], PUB_SCHEMA
    )
    out = assign_to_clusters(new, snap, cfg).collect()
    assert out[0].cluster_id is None  # 'hot' spans 3 > 2 clusters
    # under the default cap (64) the same pub assigns
    out2 = assign_to_clusters(new, snap, DEFAULT_CONFIG).collect()
    assert out2[0].cluster_id is not None


def test_fixture_holdout_accuracy(spark, fixture_repo_files):
    """Hold out every 7th pub of the labeled fixture, assign against
    the remaining clustered snapshot: every held-out pub must be
    assigned, and the assigned cluster's majority truth label must
    match the pub's own label (measured 1.0; floor 0.95)."""
    from hgcn_name_disambiguation_spark.operators.parse import (
        parse_publications,
    )
    from hgcn_name_disambiguation_spark.plans.pipeline import run_pipeline

    pubs = parse_publications(
        fixture_repo_files, DEFAULT_CONFIG, observe_name=None
    )
    new_pubs = pubs.where(F.xxhash64("pub_id") % 7 == 0).cache()
    res = run_pipeline(fixture_repo_files, DEFAULT_CONFIG)
    clustered = res.clustered.join(
        new_pubs.select("block_key", "pub_id"),
        ["block_key", "pub_id"],
        "left_anti",
    ).cache()
    out = assign_to_clusters(new_pubs, clustered, DEFAULT_CONFIG).cache()
    n_new = new_pubs.count()
    assigned = out.where(F.col("cluster_id").isNotNull())
    assert assigned.count() == n_new

    truth = res.clustered.select(
        "block_key", "pub_id", F.col("label").alias("true_label")
    )
    cl_maj = (
        res.clustered.groupBy("block_key", "cluster_id", "label")
        .count()
        .groupBy("block_key", "cluster_id")
        .agg(F.max(F.struct("count", "label")).alias("m"))
        .select(
            "block_key", "cluster_id", F.col("m.label").alias("cl_label")
        )
    )
    acc = (
        assigned.join(truth, ["block_key", "pub_id"])
        .join(cl_maj, ["block_key", "cluster_id"])
        .agg(
            F.avg(
                (F.col("true_label") == F.col("cl_label")).cast("double")
            ).alias("acc")
        )
        .first()
        .acc
    )
    assert acc >= 0.95, f"assignment accuracy regressed: {acc:.4f}"


def test_streaming_matches_batch(spark, tmp_path):
    """StreamingClusterAssigner over two micro-batches == batch
    assign_to_clusters on the union — the batch/stream contract."""
    from hgcn_name_disambiguation_spark.fixtures.generator import (
        REPO_FILES_SCHEMA,
        generate_repo_files,
    )
    from hgcn_name_disambiguation_spark.operators.parse import (
        parse_publications,
    )
    from hgcn_name_disambiguation_spark.plans.pipeline import run_pipeline
    from hgcn_name_disambiguation_spark.streaming.incremental import (
        StreamingClusterAssigner,
    )

    rows = generate_repo_files(seed=5, blocks=3, pubs_per_block=16, skew_factor=2)
    # split RAW rows: snapshot never saw the 'new' rows (the realistic
    # deployment shape), and no pub_id <-> row matching is needed
    import zlib

    new_rows = [r for r in rows if zlib.crc32(r["path"].encode()) % 5 == 0]
    snap_rows = [r for r in rows if zlib.crc32(r["path"].encode()) % 5 != 0]
    clustered = run_pipeline(
        spark.createDataFrame(snap_rows, REPO_FILES_SCHEMA), DEFAULT_CONFIG
    ).clustered.cache()

    src = str(tmp_path / "new_src")
    out_dir = str(tmp_path / "assign_out")
    half = max(1, len(new_rows) // 2)
    spark.createDataFrame(new_rows[:half], REPO_FILES_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(src)
    spark.createDataFrame(new_rows[half:], REPO_FILES_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(REPO_FILES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    assigner = StreamingClusterAssigner(spark, clustered, out_dir)
    try:
        q = assigner.attach(stream).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        assigner.close()

    got = sorted(
        (r.block_key, r.pub_id, r.cluster_id)
        for r in assigner.assignments()
        .select("block_key", "pub_id", "cluster_id")
        .collect()
    )
    new_pubs = parse_publications(
        spark.createDataFrame(new_rows, REPO_FILES_SCHEMA),
        DEFAULT_CONFIG,
        observe_name=None,
    )
    want = sorted(
        (r.block_key, r.pub_id, r.cluster_id)
        for r in assign_to_clusters(new_pubs, clustered, DEFAULT_CONFIG)
        .select("block_key", "pub_id", "cluster_id")
        .collect()
    )
    assert got == want and len(got) > 0


def test_assignment_partitioning_invariance(spark, tiny, fixture_repo_files):
    """The assignment is a pure function of the DATA: repartitioning
    either side (and scrambling row order) must not change any
    (pub, cluster, fused) — the determinism property the max(struct)
    tie-break and the hash-free scoring exist to guarantee. Compared
    bit for bit: exact ties decide the greatest-cluster_id rule, so a
    last-bit drift in t or fused is a different answer. The fixture
    snapshot has multi-member, multi-token clusters, so a cluster's
    norm sums many idf terms; its arrivals and snapshot are split from
    one parsed frame, as a caller holding one corpus would split it."""
    from hgcn_name_disambiguation_spark.operators.parse import (
        parse_publications,
    )

    new = spark.createDataFrame(
        [
            _pub("b", "n1", ["alpha", "zeta"], ["ann"], "vX"),
            _pub("b", "n2", ["gamma"], ["bob"], "v2"),
            _pub("b", "n3", ["omega"], ["nobody"], "vY"),
        ],
        PUB_SCHEMA,
    )
    base = sorted(
        tuple(r) for r in assign_to_clusters(new, tiny, DEFAULT_CONFIG).collect()
    )
    scrambled = sorted(
        tuple(r)
        for r in assign_to_clusters(
            new.repartition(7, "pub_id").sortWithinPartitions(
                F.desc("pub_id")
            ),
            tiny.repartition(5).sortWithinPartitions(F.desc("pub_id")),
            DEFAULT_CONFIG,
        ).collect()
    )
    assert base == scrambled

    pubs = parse_publications(
        fixture_repo_files, DEFAULT_CONFIG, observe_name=None
    )
    held = F.xxhash64("pub_id") % 7 == 0
    arrivals = pubs.where(held).cache()
    snap = pubs.where(~held).withColumn(
        "cluster_id", F.col("label").cast("string")
    ).cache()

    def scores(snapshot):
        return sorted(
            tuple(r) for r in score_against_clusters(
                arrivals, cluster_profiles(snapshot), DEFAULT_CONFIG
            ).collect()
        )

    want = scores(snap)
    assert len(want) > arrivals.count() > 0
    assert scores(snap.repartition(1)) == want
    assert scores(snap.repartition(9, "pub_id")) == want


def test_edge_cases_one_row_per_pub(spark):
    """One batch, four kinds of pub: a block the snapshot lacks; a NULL
    venue with no authors and no tokens; a pub whose only shared token
    is hot; an ordinary pub. Each gets exactly one row, the first three
    NULL, and snapshot blocks the batch does not touch give no rows."""
    cfg = PipelineConfig(max_token_df_per_block=2)
    snap_schema = StructType(PUB_SCHEMA.fields + [
        StructField("cluster_id", StringType())
    ])
    snap = spark.createDataFrame(
        [
            _pub("b", "p1", ["alpha", "common"], ["ann"], "v1", "c1"),
            _pub("b", "p2", ["gamma", "common"], ["bob"], "v2", "c2"),
            _pub("b", "p3", ["delta", "common"], ["cat"], "v3", "c3"),
            _pub("other", "p9", ["alpha"], ["ann"], "v1", "c9"),
        ],
        snap_schema,
    )
    new = spark.createDataFrame(
        [
            _pub("missing", "m1", ["alpha"], ["ann"], "v1"),
            _pub("b", "m2", [], [], None),
            _pub("b", "m3", ["common", "zeta"], ["nobody"], "vX"),
            _pub("b", "m4", ["alpha"], ["ann"], "v1"),
        ],
        PUB_SCHEMA,
    )
    rows = assign_to_clusters(new, snap, cfg).collect()
    out = {r.pub_id: r for r in rows}
    assert len(rows) == len(out) == 4
    assert {r.block_key for r in out.values()} == {"missing", "b"}
    for pid in ("m1", "m2", "m3"):
        assert out[pid].cluster_id is None and out[pid].fused is None
    # alpha: df 1 of n_block 3, and the pub's only token -> t = 1
    assert out["m4"].cluster_id == "c1"
    assert out["m4"].fused == pytest.approx(1.0, abs=1e-12)
    scored = score_against_clusters(
        new, cluster_profiles(snap), cfg
    ).collect()
    assert {(r.pub_id, r.cluster_id) for r in scored} == {("m4", "c1")}


@pytest.fixture(scope="module")
def labelled_split(spark):
    """A labelled snapshot (cluster_id = the true entity) and the raw
    rows it never saw, split in two micro-batches."""
    import zlib

    from hgcn_name_disambiguation_spark.fixtures.generator import (
        REPO_FILES_SCHEMA,
        generate_repo_files,
    )
    from hgcn_name_disambiguation_spark.operators.parse import (
        parse_publications,
    )

    rows = generate_repo_files(seed=5, blocks=2, pubs_per_block=12, skew_factor=1)
    new_rows = [r for r in rows if zlib.crc32(r["path"].encode()) % 4 == 0]
    snap_rows = [r for r in rows if zlib.crc32(r["path"].encode()) % 4 != 0]
    snap = parse_publications(
        spark.createDataFrame(snap_rows, REPO_FILES_SCHEMA), observe_name=None
    ).withColumn("cluster_id", F.col("label").cast("string"))
    half = max(1, len(new_rows) // 2)
    batches = [
        spark.createDataFrame(b, REPO_FILES_SCHEMA)
        for b in (new_rows[:half], new_rows[half:])
    ]
    return snap, batches, new_rows


def test_assigner_replay_is_exactly_once(spark, tmp_path, labelled_split):
    """A replayed foreachBatch call (same batch_id) replaces that
    batch's assignments instead of appending them a second time."""
    from hgcn_name_disambiguation_spark.fixtures.generator import (
        REPO_FILES_SCHEMA,
    )
    from hgcn_name_disambiguation_spark.operators.parse import (
        parse_publications,
    )
    from hgcn_name_disambiguation_spark.streaming.incremental import (
        StreamingClusterAssigner,
    )

    snap, (df, df2), new_rows = labelled_split
    assigner = StreamingClusterAssigner(spark, snap, str(tmp_path / "out"))
    try:
        assigner.process_batch(df, 1)
        assigner.process_batch(df, 1)  # replay
        assigner.process_batch(df2, 2)
    finally:
        assigner.close()
    got = assigner.assignments()
    assert got.columns == ["block_key", "pub_id", "cluster_id", "fused"]
    n_pubs = parse_publications(
        spark.createDataFrame(new_rows, REPO_FILES_SCHEMA), observe_name=None
    ).count()
    assert got.count() == got.select("block_key", "pub_id").distinct().count()
    assert got.count() == n_pubs > 0


# Spark jobs the streaming assigner launches on the labelled split, as
# measured: counting the snapshot profile, the snapshot's own parse
# included (the profile is a projection of its rows; a JVM index build
# took 21), and one hand-off (parse, the per-block assign kernel,
# the write).
PROFILE_JOBS = 5
HANDOFF_JOBS = 4


def test_assigner_job_count(spark, tmp_path, labelled_split):
    """The profile costs its own materialisation and a hand-off its
    parse, kernel and write: no JVM index build or extra hand-off job
    may creep back in."""
    from hgcn_name_disambiguation_spark.streaming.incremental import (
        StreamingClusterAssigner,
    )

    snap, (df, df2), _ = labelled_split
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assigner = StreamingClusterAssigner(spark, snap, str(tmp_path / "out"))
    try:
        profile_jobs = jobs("assign_profile", lambda: [
            p.count() for p in assigner.profiles.values()
        ])
        assigner.process_batch(df, 1)  # warm-up
        handoff_jobs = jobs("assign_handoff",
                            lambda: assigner.process_batch(df2, 2))
    finally:
        assigner.close()
    assert not any(p.is_cached for p in assigner.profiles.values())
    assert profile_jobs <= PROFILE_JOBS
    assert handoff_jobs <= HANDOFF_JOBS
