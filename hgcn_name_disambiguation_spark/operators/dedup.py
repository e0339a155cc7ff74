"""Deduplication operators for large-scale training-data pipelines.

Five tiers, cheapest-first — the standard corpus-dedup ladder:

1. exact_duplicates      — sha2(normalized text) hash-groupBy. One
                           shuffle on a 64-hex key; trivially 100-TB-safe.
2. ngram_jaccard_pairs   — exact n-gram (shingle) Jaccard via inverted
                           shingle index (equi-join + agg; NO n^2 scan).
3. minhash_lsh_pairs     — MinHash signatures + banded LSH: candidate
                           pairs only where a band bucket collides;
                           sub-quadratic, the 100-TB path. All JVM-side
                           (xxhash64 per seed; min-agg per signature row).
4. simhash_pairs         — 64-bit SimHash, Hamming<=k candidates via
                           4-chunk pigeonhole index (any pair within
                           Hamming 3 shares one exact 16-bit chunk).
5. embedding_neardup_pairs — cosine >= tau over an embedding column,
                           bucketed by random-hyperplane LSH signs.

Every operator returns canonical (id_a < id_b) pair frames or cluster
assignments; clustering dedup groups reuses the engine's
connected-components operator (clustering.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .clustering import connected_components


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns (dup_hash, n_dups, keeper_id, member_ids sorted) for groups
    with n_dups >= 2. keeper = min id (deterministic survivor policy).
    """
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("dup_hash"),
    )
    return (
        hashed.groupBy("dup_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_id"),
            F.array_sort(F.collect_list("doc_id")).alias("member_ids"),
        )
        .where(F.col("n_dups") >= 2)
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) as an array column.

    NOTE: array-returning HOF form — fine for single-pass use, but
    beware: Catalyst inlines the split() into every element access, so
    prefer shingle_index() (posexplode + window lead, codegen'd) for
    anything that explodes or re-reads the shingles."""
    toks = F.split(normalized_text(text), " ")
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
    )


def shingle_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shingle) DISTINCT rows — the relational shingle form.

    posexplode tokens once, then lead() over (doc, pos): one pass, one
    shuffle on doc_id, whole-stage codegen throughout. This is the
    10-100x-faster sibling of shingles() for fan-out consumers
    (inverted indexes, MinHash): the HOF version re-evaluates the
    tokenizer per element access."""
    from pyspark.sql import Window as _W

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(normalized_text(F.col(text_col)), " ")).alias(
            "pos", "tok"
        ),
    )
    w = _W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    sh = toks.select(
        "doc_id",
        F.concat_ws(" ", *parts).alias("shingle"),
        parts[-1].isNotNull().alias("_full"),
    )
    return (
        sh.where(F.col("_full"))
        .select("doc_id", "shingle")
        .dropDuplicates(["doc_id", "shingle"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 10_000,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via **prefix filtering**
    (PPJoin-family set-similarity join, Xiao et al. WWW'08 — public
    algorithm): order each doc's shingles rarest-first by global df and
    index only the first |A| - ceil(t*|A|) + 1 of them. Two sets with
    Jaccard >= t MUST collide in these prefixes, so candidate
    generation is an equi-join on prefix shingles only — at threshold
    0.8 that's ~1/5 of the index and, crucially, only the RARE
    shingles, so sum C(df,2) collapses. Candidates are verified with
    the full sorted arrays (array_intersect). No false negatives:
    results are bit-identical to the naive all-pairs Jaccard.

    Length filter |B| >= t*|A| is applied inside the join condition.
    Hot shingles above max_shingle_df are dropped from the *prefix
    index only* (truncation policy; never silently — count dropped
    via lineage at call sites).
    """
    # four consumers read the exploded index (global df counts, the
    # rarest-first ranking, per-doc sizes, the verify sets) — without
    # a barrier each re-runs scan + normalize + posexplode + lead
    # window + dedup (round-6: one materialization, measured ~2x on
    # the whole operator at sf0.1)
    idx = shingle_index(df, id_col, text_col, n).localCheckpoint(eager=True)
    df_counts = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    # rarest-first rank of each shingle within its doc; the per-doc
    # shingle count rides the SAME doc_id window exchange (round-6: a
    # separate groupBy + join-back paid one more agg and one more join
    # for a value the rank window's partition already holds)
    ranked = idx.join(df_counts, "shingle")
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    wn = _W.partitionBy("doc_id")
    ranked = ranked.withColumn("pos", F.row_number().over(w)).withColumn(
        "n_sh", F.count(F.lit(1)).over(wn)
    )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = (
        ranked.where(F.col("pos") <= prefix_len)
        .where(F.col("df") <= max_shingle_df)
        .select("doc_id", "shingle", "n_sh")
    )

    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: Jaccard >= t requires t*|A| <= |B| <= |A|/t
            & (F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh"))
            & (F.col("a.n_sh") * F.lit(threshold) <= F.col("b.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    # verify sets ONLY for docs that appear in a candidate pair (guide
    # §3.2 semi-join pre-filter): the collect_set aggregation otherwise
    # shuffles every doc's full shingle multiset when the candidate set
    # is tiny by construction. cands is materialized once (it feeds
    # the id list and the verify join) — a few rows per surviving pair.
    cands = cands.localCheckpoint(eager=True)
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionByName(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        idx.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("shingle")).alias("sh"))
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sig ARRAY[num_hashes]) MinHash signatures.

    hash_mode:
    - ``xxhash64`` (default, production): h_i(shingle) =
      xxhash64(i, shingle) — the fastest JVM hash; sig is
      ARRAY<BIGINT>.
    - ``md5``: h_i(shingle) = md5('i:' || shingle) as the 32-char hex
      STRING; MIN over equal-length hex strings == numeric min, so the
      algorithm is identical. ~2x slower, but md5 exists in DuckDB
      (xxhash64 does not), making the whole MinHash+LSH pipeline
      oracle-checkable bit-for-bit (q19).

    One shingle_index pass + one groupBy(min per seed): linear in
    total shingles, whole-stage codegen'd either way.
    """
    if hash_mode == "xxhash64":
        def h(i):
            return F.xxhash64(F.lit(i), F.col("shingle"))
    elif hash_mode == "md5":
        def h(i):
            return F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    sh = shingle_index(df, id_col, text_col, n)
    # hashing stays INLINE in the aggregation's input projection: a
    # distinct-shingle + hash-vector join-back variant was measured
    # 2.4x SLOWER at sf0.1 (the num_hashes-wide value arrays are the
    # heavy part, and the join forces them through a shuffle and the
    # agg projection; the duplicate hash calls it saved were cheaper)
    mins = sh.groupBy("doc_id").agg(
        *[F.min(h(i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Banded-LSH candidate pairs + exact signature-similarity verify.

    bands=16 x rows=4 over 64 hashes -> collision prob ~ 1-(1-s^4)^16
    (s = true Jaccard): s=0.7 -> 0.98, s=0.3 -> 0.12. Candidates come
    only from band-bucket collisions (groupBy band hash — the shuffle
    key is (band, bucket), NEVER all-pairs), then estimated Jaccard =
    fraction of agreeing hashes filters to >= threshold.

    ``hash_mode='md5'`` swaps every hash for md5 (same banding/verify
    logic) so the full pipeline is DuckDB-oracle-checkable — see
    minhash_signatures.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, hash_mode)
    # md5 mode: signatures are num_hashes 32-char hex strings (~2 KB a
    # row) and cost real hashing to rebuild — materialize ONCE and
    # keep the heavy array OUT of the band self-join (slim
    # (doc, band, bucket) keys shuffle; sigs re-attach to the few
    # candidates — guide §2.3/§8). xxhash64 mode: sigs are 64 longs
    # (~512 B) and near-free to recompute — the payload-carrying join
    # measured faster than a checkpoint + re-attach round trip.
    slim_band = hash_mode == "md5"
    if slim_band:
        sigs = sigs.localCheckpoint(eager=True)

    def band_bucket(bi):
        elems = [
            F.element_at("sig", bi * rows_per_band + j + 1)
            for j in range(rows_per_band)
        ]
        if hash_mode == "md5":
            return F.md5(F.concat_ws("|", *elems))
        return F.xxhash64(*elems)

    band_cols = [] if slim_band else ["sig"]
    band_rows = sigs.select(
        "doc_id",
        *band_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        band_bucket(bi).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        *band_cols,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )

    a, b = band_rows.alias("a"), band_rows.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            *(
                []
                if slim_band
                else [
                    F.col("a.sig").alias("sig_a"),
                    F.col("b.sig").alias("sig_b"),
                ]
            ),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if slim_band:
        sa = sigs.select(
            F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")
        )
        sb = sigs.select(
            F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")
        )
        cands = cands.join(sa, "id_a").join(sb, "id_b")
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    ) / F.lit(float(num_hashes))
    return (
        cands.withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash_bits(hash_mode: str) -> int:
    """64 bits from xxhash64; 60 bits (15 hex chars) from md5 — 15
    nibbles keep the value inside a signed BIGINT with headroom and
    divide evenly into 4 chunks for the Hamming-3 pigeonhole."""
    return 64 if hash_mode == "xxhash64" else 60


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sim BIGINT) SimHash of the token multiset.

    Relational form: explode tokens once, hash each token once, then a
    single hash-aggregate computing all bit votes (one conditional sum
    per bit over the same rows — one codegen'd pass, NOT per-bit array
    scans; an HOF-array formulation re-evaluates the tokenizer per
    pass).

    ``hash_mode='md5'``: token hash = first 15 hex chars of md5 as a
    60-bit integer (conv base 16) — same algorithm in a hash family
    DuckDB also has, so the whole SimHash pipeline is
    oracle-checkable (q20)."""
    nbits = simhash_bits(hash_mode)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
    )
    if hash_mode == "md5":
        toks = toks.withColumn(
            "h",
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"),
        )
    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(nbits)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(nbits):
        # set bit b via shift+OR (the top bit would overflow an ANSI sum)
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("doc_id", sim.alias("sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    paired_chunks: bool | None = None,
    auto_paired_threshold: int = 20_000_000,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Two pigeonhole index shapes, identical results (exact Hamming
    verify either way — asserted equivalent by test):

    - ``paired_chunks=False`` — 4 x 16-bit chunks; a pair within
      Hamming 3 agrees exactly on >= 1 chunk. 4 x 2^16 bucket keys:
      at n docs, expected bucket size n/65k -> within-bucket C(.,2)
      work grows ~(n/65k)^2. Right up to ~10^7-10^8 docs.
    - ``paired_chunks=True``  — 6 chunks (11/11/11/11/10/10 bits);
      <= 3 flipped bits leave >= 3 chunks clean, so every qualifying
      pair agrees exactly on >= C(3,2) = 3 of the C(6,2) = 15 chunk
      PAIRS. Join key = (combo, bits_i, bits_j): 15 x 2^21-2^22
      buckets — 1000x more keys for 3.75x replication, pushing the
      same within-bucket blowup out to ~10^10-10^11 docs. This is the
      hierarchical-chunking scale path (HmSearch-style pigeonhole over
      chunk combinations, published technique).

    ``paired_chunks=None`` (default) picks by corpus size (one count()
    action) at ``auto_paired_threshold``. max_hamming > 3 requires the
    4-chunk shape to stay exhaustive (4 chunks pigeonhole Hamming<=3;
    6-choose-2 covers <=3) — asserted.
    """
    sh = simhash_table(df, id_col, text_col, hash_mode)
    nbits = simhash_bits(hash_mode)
    if paired_chunks is None:
        paired_chunks = (
            max_hamming <= 3 and df.count() >= auto_paired_threshold
        )
    if paired_chunks and max_hamming > 3:
        raise ValueError(
            "paired_chunks indexes guarantee recall only for "
            f"max_hamming <= 3 (got {max_hamming})"
        )

    if paired_chunks:
        # 6 sub-chunks: widths 11,11,11,11,10,10 (sum 64) / 10x6 (60)
        widths = [11, 11, 11, 11, 10, 10] if nbits == 64 else [10] * 6
        offs, o = [], 0
        for w in widths:
            offs.append(o)
            o += w
        sub = [
            F.shiftright("sim", offs[c])
            .bitwiseAND(F.lit((1 << widths[c]) - 1))
            .cast("long")
            for c in range(6)
        ]
        combos = [(i, j) for i in range(6) for j in range(i + 1, 6)]
        chunks = sh.select(
            "doc_id",
            "sim",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(ci).alias("chunk"),
                            # one 22-bit composite key per chunk pair
                            (
                                F.shiftleft(sub[i], 11).bitwiseOR(sub[j])
                            ).alias("ckey"),
                        )
                        for ci, (i, j) in enumerate(combos)
                    ]
                )
            ).alias("cc"),
        ).select(
            "doc_id",
            "sim",
            F.col("cc.chunk").alias("chunk"),
            F.col("cc.ckey").alias("ckey"),
        )
    else:
        chunks = sh.select(
            "doc_id",
            "sim",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk"),
                            F.shiftright("sim", c * (nbits // 4))
                            .bitwiseAND(F.lit((1 << (nbits // 4)) - 1))
                            .alias("ckey"),
                        )
                        for c in range(4)
                    ]
                )
            ).alias("cc"),
        ).select(
            "doc_id",
            "sim",
            F.col("cc.chunk").alias("chunk"),
            F.col("cc.ckey").alias("ckey"),
        )

    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


_M64 = (1 << 64) - 1


def _mix64(x: int) -> int:
    """splitmix64 finalizer: full-avalanche integer mixing, so every
    input bit flips ~half the output bits. Pure arithmetic — no RNG
    state, deterministic, resume-safe."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def _hyperplane(seed: int, table: int, i: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components in [-1, 1].

    Components MUST be independent across j: a linear congruence in j
    (the round-1/2 form, ``j * 101 % 2_000_003`` scaled) makes each
    plane a near-constant vector, every plane a scalar multiple of
    1-vector, and the whole sign-bucket index collapse to "sign of the
    component sum" — ~2 effective buckets at ANY plane count, i.e.
    brute force at scale. Caught by tools/bench_autosize.py measuring
    candidates/item vs n; full-avalanche mixing restores uniform
    bucket occupancy."""
    return [
        (_mix64(seed * 1_000_003 + table * 79_190_001 + i * 10_007 + j)
         % 2_000_003) / 1_000_001.5 - 1.0
        for j in range(dim)
    ]


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int | None = None,
    num_tables: int = 1,
    seed: int = 42,
    target_bucket_size: int = 512,
) -> DataFrame:
    """Embedding-cosine near-dups, LSH-bucketed.

    Bucket = sign bits of dot(v, r_i) over num_planes seeded
    hyperplanes; pairs only within a bucket; exact cosine verify via
    zip_with/aggregate — built-ins, no UDF, so precision is exact and
    only recall depends on the index.

    ``num_planes=None`` (default) sizes the index FROM THE DATA:
    planes = clamp(8, 24, ceil(log2(n / target_bucket_size))) — one
    count() action. A fixed plane count is a scale-killer: 8 planes =
    256 buckets forever, so within-bucket candidate work grows as
    (n/256)^2; sizing planes with log2(n) keeps expected bucket size ~
    target_bucket_size and within-bucket work ~linear in n.

    More planes lower per-pair bucket-collision recall (p_pair =
    (1 - theta/pi)^planes, theta = arccos(threshold); at threshold
    0.95, p ~ 0.94/plane -> 0.6 at 8 planes, 0.23 at 24). Raise
    ``num_tables`` to recover it: tables use independent plane sets
    and recall = 1 - (1 - p)^tables; candidates are deduped before the
    exact verify, so extra tables cost index size, never correctness.
    """
    dim = len(df.select(vec_col).first()[0])
    if num_planes is None:
        import math

        n = df.count()
        num_planes = max(
            8, min(24, math.ceil(math.log2(max(2, n / target_bucket_size))))
        )

    v = F.col(vec_col)
    tables = []
    for t in range(num_tables):
        sign_bits = []
        for i in range(num_planes):
            arr = F.array(
                *[F.lit(float(x)) for x in _hyperplane(seed, t, i, dim)]
            )
            dot = F.aggregate(
                F.zip_with(v, arr, lambda a_, b_: a_ * b_),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            sign_bits.append(
                F.when(dot >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
            )
        bucket = sign_bits[0]
        for sb in sign_bits[1:]:
            bucket = bucket + sb
        # table id folded into the key so one union'd index serves all
        # tables with a single self-join
        tables.append(
            F.struct(F.lit(t).alias("t"), bucket.alias("b")).alias("tb")
        )

    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    vecs = df.select(
        F.col(id_col).alias("vid"),
        v.alias("vec"),
        F.explode(F.array(*tables)).alias("tb"),
        norm.alias("norm"),
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.tb") == F.col("b.tb"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.col("a.vec").alias("vec_a"),
            F.col("b.vec").alias("vec_b"),
            F.col("a.norm").alias("norm_a"),
            F.col("b.norm").alias("norm_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dot_ab = F.aggregate(
        F.zip_with(F.col("vec_a"), F.col("vec_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot_ab / (F.col("norm_a") * F.col("norm_b"))
    return (
        cands.select(
            "id_a",
            "id_b",
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup pairs into groups via the engine's
    large-star/small-star CC; keeper = min doc id per group."""
    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comp = connected_components(edges)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    )


def canonical_keep_list(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Resolve near-dup PAIRS into the keep-list a pretraining-corpus
    dedup actually ships: one row per document — (doc_id, keep_id,
    is_canonical) — where keep_id is the smallest doc_id of the
    document's near-dup component and singletons keep themselves.

    Composes any pair emitter (minhash_lsh_pairs / simhash_pairs /
    ngram_jaccard_pairs / embedding near-dup) with the engine's
    large-star/small-star CC; the canonical choice is re-derived as
    the NUMERIC min over the component (component ids are min STRING
    node — '10' < '9' lexicographically — so the representative is
    recomputed, not reused). Filter is_canonical to materialize the
    deduplicated corpus; join keep_id to attribute dropped docs.
    """
    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comp = connected_components(edges)
    ids = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(id_col).cast("string").alias("_node"),
    )
    with_comp = ids.join(comp, ids["_node"] == comp["node"], "left").select(
        "doc_id", F.coalesce("component", "_node").alias("_comp")
    )
    keep = with_comp.groupBy("_comp").agg(F.min("doc_id").alias("keep_id"))
    return with_comp.join(keep, "_comp").select(
        "doc_id",
        "keep_id",
        (F.col("doc_id") == F.col("keep_id")).alias("is_canonical"),
    )


def _dup_gram_hits(
    df: DataFrame,
    k: int,
    min_count: int,
    id_col: str,
    text_col: str,
    hash_grams: bool,
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of dup_span_stats / remove_dup_spans:
    (base, hits) where base = (doc_id, n_tokens, t[okens]) and hits =
    (doc_id, pos) — the 0-based start positions of token k-grams that
    occur >= min_count times corpus-wide."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = df.select(
        F.col(id_col).alias("doc_id"), F.size(toks).alias("n_tokens"), toks.alias("t")
    )
    grams_arr = F.when(
        F.col("n_tokens") >= k,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - k + 1),
            lambda i: F.array_join(F.slice(F.col("t"), i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    key = F.xxhash64("gram") if hash_grams else F.col("gram")
    grams = base.select(
        "doc_id", F.posexplode(grams_arr).alias("pos", "gram")
    ).select("doc_id", "pos", key.alias("gkey"))
    dup = (
        grams.groupBy("gkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("gkey")
    )
    hits = grams.join(dup, "gkey").select("doc_id", "pos")
    return base, hits


def dup_span_stats(
    df: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = False,
) -> DataFrame:
    """Exact duplicated-SUBSTRING span statistics (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): a token k-gram occurring >= min_count times
    anywhere in the corpus (across docs OR repeated within one) marks
    its k token positions as duplicated; overlapping hits are merged
    into spans before counting.

    Returns one row per input doc, integer-only (hash-stable across
    engines): (doc_id, n_tokens, n_dup_grams, dup_tokens,
    has_dup_span) where dup_tokens = tokens covered by the merged
    duplicated spans. Filter/trim on dup_tokens to approximate the
    suffix-array span removal of the paper without a suffix array —
    the k-gram formulation loses only duplicates shorter than k.

    Scale shape (no Python UDFs, 3 shuffles):
      1. gram emission is NARROW: transform+slice over the token
         array, ~n_tokens rows/doc (same order as the q44 tokenizer);
      2. duplicate detection is ONE map-side-combined count shuffle
         keyed by the gram (with hash_grams=True the key is
         xxhash64(gram): ~6x fewer shuffle bytes than ~50-char gram
         strings at 100 TB, collision odds ~n^2/2^65 — at 10^12 grams
         that's a ~3% chance of ONE false span corpus-wide);
      3. the hit join reuses the same key (AQE broadcasts the dup
         side when small), then one window+agg shuffle on doc_id.
    Span merging is a running-max window, never an interval list in
    driver memory.
    """
    from pyspark.sql import Window as _W

    base, hits = _dup_gram_hits(df, k, min_count, id_col, text_col, hash_grams)
    # merged-interval coverage: intervals are equal-length [pos, pos+k),
    # so sorted by pos they are sorted by end too; each hit contributes
    # k minus its overlap with the running max end of earlier hits.
    w = _W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        _W.unboundedPreceding, -1
    )
    cov = hits.select(
        "doc_id", "pos", F.max(F.col("pos") + k).over(w).alias("prev_end")
    )
    agg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sum(
            F.lit(k)
            - F.greatest(
                F.lit(0), F.coalesce(F.col("prev_end") - F.col("pos"), F.lit(0))
            )
        ).alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            (F.coalesce(F.col("dup_tokens"), F.lit(0)) > 0)
            .cast("int")
            .alias("has_dup_span"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = False,
) -> DataFrame:
    """The span REMOVAL half of Lee et al. 2022 (arXiv:2107.06499),
    complementing dup_span_stats: delete every token covered by a
    corpus-wide duplicated k-gram and re-join the survivors, yielding
    the cleaned corpus the paper actually trains on. A doc whose text
    is entirely duplicated comes back with clean_text = ''.

    Returns (doc_id, n_tokens, n_tokens_kept, clean_text) — integers
    and strings only, hash-stable across engines.

    Scale shape: the gram-count shuffle and hit join are shared with
    dup_span_stats (_dup_gram_hits); removal adds ONE tiny groupBy
    (hit positions per doc — only docs that contain a duplicate) and
    a broadcast-size left join back to base, after which token
    filtering is NARROW: `F.filter(t, (tok, i) -> ...)` with an
    `F.exists` probe over the doc's own hit-start array. No token
    explode, no per-token shuffle — the 100-TB hot path stays one
    pass over the token arrays.
    """
    base, hits = _dup_gram_hits(df, k, min_count, id_col, text_col, hash_grams)
    hp = hits.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("hit_starts")
    )
    joined = base.join(hp, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "t",
        F.coalesce("hit_starts", F.array().cast("array<int>")).alias("hs"),
    )
    kept = F.filter(
        F.col("t"),
        lambda tok, i: ~F.exists(
            F.col("hs"), lambda h: (i >= h) & (i < h + F.lit(k))
        ),
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        F.size(kept).alias("n_tokens_kept"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def sample_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 16,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> list[tuple[int, list[float]]]:
    """Deterministic seeded corpus sample used as coarse-quantizer
    centroids for ``semantic_dedup``.

    Centroid selection = hash-threshold FILTER (keep the 1/mod slice of
    seeded hash values) + hash-min-k on the slice; the min-k compiles
    to TakeOrderedAndProject (per-partition heap, no shuffle / no full
    sort). If the corpus is too small to fill the slice, the slice
    widens geometrically. Result is the global hash-min-k of the slice
    — deterministic under any partitioning/layout; the driver holds
    exactly ``num_cells`` rows. ``hash_mode='md5'`` uses md5-hex
    prefix slices so a DuckDB oracle can replicate the draw."""
    if hash_mode == "md5":
        keyed = corpus.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            F.md5(
                F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
            ).alias("_h"),
        )
        cents = []
        for pl in (3, 2, 1, 0):
            sliced = (
                keyed.where(F.substring("_h", 1, pl) == "0" * pl)
                if pl
                else keyed
            )
            cents = (
                sliced.orderBy("_h", "cid").limit(num_cells).collect()
            )
            if len(cents) >= num_cells:
                break
    else:
        keyed = corpus.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cvec"),
            F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("_h"),
        )
        mod = 1 << 14
        cents = []
        while True:
            cents = (
                keyed.where(F.pmod("_h", F.lit(mod)) == 0)
                .orderBy("_h", "cid")
                .limit(num_cells)
                .collect()
            )
            if len(cents) >= num_cells or mod == 1:
                break
            mod = max(1, mod >> 4)
    return [(i, [float(x) for x in r.cvec]) for i, r in enumerate(cents)]


def semantic_dedup(
    emb: DataFrame,
    theta: float = 0.95,
    num_cells: int | None = None,
    rows_per_cell: int = 4096,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    dedup in embedding space — coarse-quantize the corpus into cells,
    then WITHIN each cell drop every item that has a >= theta cosine
    neighbor closer to the cell centroid than itself.

    The published rule, re-expressed as one equi-join: item x is
    dropped iff exists same-cell y with round(cos(x,y),6) >= theta and
    (cent_cos(y) > cent_cos(x)) or equal-and-smaller-id — i.e. of any
    near-duplicate pair the item FARTHEST from the centroid is kept
    (the paper's diversity-preserving choice), ties broken to the
    smaller id. The rule is local and anti-symmetric per pair, so the
    kept set is deterministic under any partitioning — no sequential
    greedy scan, no driver loop.

    Scale: centroids come from `sample_centroids` (hash-min-k,
    driver holds num_cells rows); assignment is one narrow pass;
    the only join is the within-cell self-join, bounded by
    sum(cell_i^2) — `num_cells=None` sizes cells FROM THE DATA
    (ceil(n / rows_per_cell)) so cell population stays ~constant as
    the corpus grows; work grows linearly, never all-pairs.

    Returns one row per item: (id, cell, n_theta_nbrs, kept).
    Integer/boolean outputs only — hash-stable across engines.
    """
    if num_cells is None:
        n = emb.count()  # one scalar: sizes the quantizer from the data
        num_cells = max(4, -(-n // rows_per_cell))
    cent_vecs = sample_centroids(
        emb, id_col, vec_col, num_cells, seed, hash_mode
    )

    def cell_scores(vec: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.round(
                        cosine(
                            vec,
                            F.expr(
                                "array("
                                + ",".join(f"{float(x)!r}D" for x in cv)
                                + ")"
                            ),
                        ), 6
                    ).alias("cos"),
                    F.lit(ci).alias("cell"),
                )
                for ci, cv in cent_vecs
            ]
        )

    assigned = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).withColumn("best", F.array_max(cell_scores(F.col("v"))))
    assigned = assigned.select(
        "vid",
        "v",
        F.col("best.cell").alias("cell"),
        F.col("best.cos").alias("cent_cos"),
    )

    a = assigned.select(
        F.col("vid").alias("a_id"),
        F.col("v").alias("a_v"),
        "cell",
        F.col("cent_cos").alias("a_cc"),
    )
    b = assigned.select(
        F.col("vid").alias("b_id"),
        F.col("v").alias("b_v"),
        "cell",
        F.col("cent_cos").alias("b_cc"),
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("a_id") != F.col("b_id"))
        .withColumn("cos", F.round(cosine(F.col("a_v"), F.col("b_v")), 6))
        .where(F.col("cos") >= F.lit(theta))
    )
    dominates = (F.col("b_cc") > F.col("a_cc")) | (
        (F.col("b_cc") == F.col("a_cc")) & (F.col("b_id") < F.col("a_id"))
    )
    per_item = pairs.groupBy("a_id").agg(
        F.count(F.lit(1)).alias("n_theta_nbrs"),
        F.sum(F.when(dominates, 1).otherwise(0)).alias("_n_dom"),
    )
    return (
        assigned.join(per_item, assigned["vid"] == per_item["a_id"], "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cell").cast("int").alias("cell"),
            F.coalesce("n_theta_nbrs", F.lit(0))
            .cast("long")
            .alias("n_theta_nbrs"),
            (F.coalesce("_n_dom", F.lit(0)) == 0).alias("kept"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
    hash_mode: str = "xxhash64",
    hash_bits: int = 20,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    window of `window` consecutive k-gram hashes over the document, and
    select the MINIMUM hash in each window (ties broken to the
    RIGHTMOST position, the paper's rule). The selected set is a
    position-aware fingerprint with the winnowing guarantee: any match
    of length >= window + k - 1 tokens between two documents shares at
    least one selected fingerprint.

    Spark-first shape: k-gram explode (narrow), ONE window agg per doc
    ordered by position, distinct. The min-with-rightmost-tie rule is
    encoded arithmetically so a plain MIN window aggregate implements
    it exactly: combined = hash * 2^21 + (2^21 - 1 - pos); the smallest
    combined value has the smallest hash, and among equal hashes the
    LARGEST position. Both engines compute the identical BIGINT, so the
    md5 mode is hash-stable against a DuckDB oracle; xxhash64 is the
    production mode (JVM-side, no hex round-trip).

    Documents with fewer than k tokens emit no fingerprints (no
    k-grams exist). Documents with fewer than `window` k-grams emit
    the global min (one partial window — the whole doc), keeping the
    guarantee degenerate-safe.

    Scale: per-doc windows never shuffle across docs — one shuffle on
    id_col for the window sort, output ~2/(window+1) of k-gram count
    (the paper's expected density). No driver collection.

    Returns (doc_id, fp_pos int, fp_hash long), one row per selected
    fingerprint, distinct.
    """
    from pyspark.sql import Window as _W

    if hash_bits + 21 >= 63:
        raise ValueError("hash_bits + 21 position bits must fit in int64")
    hcap = 1 << hash_bits
    pcap = 1 << 21  # positions per doc bounded by 2^21 tokens

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(
                F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " "),
                " ",
            ),
            lambda x: x != "",
        ).alias("tk"),
    ).where(F.size("tk") >= k)

    kg = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - k),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("tk"), i + 1, k)
                ),
            )
        ).alias("pos", "ng"),
    )
    if hash_mode == "md5":
        hv = F.pmod(
            F.conv(F.substring(F.md5("ng"), 1, 15), 16, 10).cast("long"),
            F.lit(hcap),
        )
    else:
        hv = F.pmod(F.xxhash64("ng"), F.lit(hcap))
    hashed = kg.select(
        "doc_id",
        "pos",
        (hv * pcap + (F.lit(pcap - 1) - F.col("pos"))).alias("comb"),
    )

    w = (
        _W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(window - 1), 0)
    )
    sel = hashed.select(
        "doc_id",
        "pos",
        F.min("comb").over(w).alias("wmin"),
        F.count(F.lit(1))
        .over(_W.partitionBy("doc_id"))
        .alias("nk"),
    ).where(F.col("pos") >= F.least(F.lit(window - 1), F.col("nk") - 1))
    return sel.select(
        "doc_id",
        F.expr(f"wmin DIV {pcap}").alias("fp_hash"),
        (F.lit(pcap - 1) - F.pmod("wmin", F.lit(pcap)))
        .cast("int")
        .alias("fp_pos"),
    ).distinct()


def clone_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
    hash_mode: str = "xxhash64",
    hash_bits: int = 20,
    max_hash_docs: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Document clone detection via shared winnowing fingerprints —
    the MOSS pairing stage: two documents are clone candidates when
    they share >= min_shared selected fingerprints, scored by
    containment = shared / min(|fp_a|, |fp_b|) in integer ppm (the
    q42/q50 rule: never emit free doubles).

    Stop-fingerprint filter first (the paper's noise control): any
    fingerprint hash present in more than max_hash_docs documents is
    boilerplate and is dropped BEFORE the self-join — this bounds the
    inverted-index bucket size, so the pair fan-out is
    sum(bucket^2) <= max_hash_docs * sum(bucket), linear in corpus
    size at fixed max_hash_docs. That cap is what makes the self-join
    100-TB-legal; without it one viral n-gram creates a quadratic
    bucket.

    Returns (id_a < id_b, shared_fps, fp_a, fp_b, containment_ppm)
    sorted nowhere — the driver canonicalizes.
    """
    fps = winnow_fingerprints(
        df,
        id_col=id_col,
        text_col=text_col,
        k=k,
        window=window,
        hash_mode=hash_mode,
        hash_bits=hash_bits,
    ).select("doc_id", "fp_hash").distinct()
    # three consumers (sizes, stop-fp keep list, the self-join index)
    # would each re-run the winnowing window otherwise — one
    # materialization of the (already sparse) fingerprint set
    fps = fps.localCheckpoint(eager=True)

    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    keep = (
        fps.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") <= max_hash_docs)
        .select("fp_hash")
    )
    idx = fps.join(keep, "fp_hash")

    a = idx.select(F.col("doc_id").alias("id_a"), "fp_hash")
    b = idx.select(F.col("doc_id").alias("id_b"), "fp_hash")
    shared = (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(
                F.col("doc_id").alias("id_a"), F.col("n_fp").alias("fp_a")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_b"), F.col("n_fp").alias("fp_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            "fp_a",
            "fp_b",
            F.expr(
                "CAST(shared_fps * 1000000 DIV least(fp_a, fp_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )


def repo_fork_pairs(
    files: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    content_col: str = "content",
    k: int = 4,
    window: int = 5,
    hash_mode: str = "xxhash64",
    hash_bits: int = 20,
    max_hash_repos: int = 20,
    min_shared: int = 5,
) -> DataFrame:
    """Repository-level fork / near-duplicate detection over the
    north-rule input shape (repo, path, commit, lang, content): a
    repo's signature is the UNION of its files' winnowing
    fingerprints (per-file MOSS fingerprints, so the winnowing
    guarantee holds within each file and renamed/moved files still
    contribute identical fingerprints), and two repos are fork
    candidates when they share >= min_shared fingerprints, scored by
    containment = shared / min(|fp_a|, |fp_b|) in integer ppm.

    This is the repo-granularity MOSS pairing stage: the stop-
    fingerprint filter drops any fingerprint present in more than
    max_hash_repos repositories (license headers, vendored
    boilerplate, generated preambles) BEFORE the inverted-index
    self-join, so pair fan-out is bounded by
    max_hash_repos * sum(bucket) — linear in corpus size at fixed
    cap, never quadratic in one viral header. At 10^12 files the
    plan is: one narrow per-file fingerprint pass (no cross-file
    shuffle inside winnowing beyond the per-file window sort), one
    distinct on (repo, fp_hash), one bounded self-join, one pair
    agg — a constant number of shuffles regardless of volume.

    Returns (repo_a < repo_b, shared_fps, fp_a, fp_b,
    containment_ppm), integer-exact (q42/q50 rule: no free doubles).
    """
    sep = "\x01"  # control char: never appears in repo/path names
    fid = files.select(
        F.concat_ws(sep, F.col(repo_col), F.col(path_col)).alias("fid"),
        F.col(content_col).alias("content"),
    )
    fps = winnow_fingerprints(
        fid,
        id_col="fid",
        text_col="content",
        k=k,
        window=window,
        hash_mode=hash_mode,
        hash_bits=hash_bits,
    )
    rfp = fps.select(
        F.substring_index("doc_id", sep, 1).alias("repo"), "fp_hash"
    ).distinct()
    # same three-consumer shape as clone_pairs: materialize the
    # per-repo fingerprint union once instead of re-winnowing per ref
    rfp = rfp.localCheckpoint(eager=True)

    sizes = rfp.groupBy("repo").agg(F.count(F.lit(1)).alias("n_fp"))
    keep = (
        rfp.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("n_repos"))
        .where(F.col("n_repos") <= max_hash_repos)
        .select("fp_hash")
    )
    idx = rfp.join(keep, "fp_hash")

    a = idx.select(F.col("repo").alias("repo_a"), "fp_hash")
    b = idx.select(F.col("repo").alias("repo_b"), "fp_hash")
    shared = (
        a.join(b, "fp_hash")
        .where(F.col("repo_a") < F.col("repo_b"))
        .groupBy("repo_a", "repo_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(
                F.col("repo").alias("repo_a"), F.col("n_fp").alias("fp_a")
            ),
            "repo_a",
        )
        .join(
            sizes.select(
                F.col("repo").alias("repo_b"), F.col("n_fp").alias("fp_b")
            ),
            "repo_b",
        )
        .select(
            "repo_a",
            "repo_b",
            "shared_fps",
            "fp_a",
            "fp_b",
            F.expr(
                "CAST(shared_fps * 1000000 DIV least(fp_a, fp_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )


def fork_families(
    pairs: DataFrame,
    repos: DataFrame,
    repo_col: str = "repo",
    min_containment_ppm: int = 500_000,
) -> DataFrame:
    """Transitive fork families: threshold the repo_fork_pairs graph
    at min_containment_ppm and resolve connected components (the same
    large-star/small-star fixpoint as the ER path — a fork of a fork
    belongs to the original's family), then union every repo from
    `repos` that joined no family as its own singleton. family_id is
    the lexicographic MIN repo of the component — deterministic under
    any partitioning or input order.

    Returns (repo, family_id), one row per distinct repo in `repos`.
    """
    edges = pairs.where(
        F.col("containment_ppm") >= min_containment_ppm
    ).select(F.col("repo_a").alias("src"), F.col("repo_b").alias("dst"))
    cc = connected_components(edges).select(
        F.col("node").alias("repo"), F.col("component").alias("family_id")
    )
    allr = repos.select(F.col(repo_col).alias("repo")).distinct()
    return allr.join(cc, "repo", "left").select(
        "repo", F.coalesce("family_id", "repo").alias("family_id")
    )
