"""Deterministic labeled fixture generator (FIXTURES.md §1).

Synthesizes the engine's input table — one row per "file" of a
source-code repo, where ``content`` is a canonical-JSON publication
record mirroring the reference's ``<publication>`` XML element
(``openAlex_to_HGCN.py:247-269``, ``raw-data-temp/*.xml``):

    repo:   "block-<block_key>"      (one repo per name block)
    path:   "pubs/<pub_id>.json"
    commit: deterministic 40-hex
    lang:   "json" (+ decoy "txt" rows the pipeline must filter)
    content: {"block", "pub_id", "title", "year", "authors",
              "venue", "org", "label"}

Entity signal (so pairwise F1 >= 0.99 is reachable at the reference
blocking key, mirroring the reference's three edge rules):
- same-label pubs share >= 2 stemmed title tokens w.p. ~0.9
  (``name_disambiguation.py:971-973``),
- share a coauthor w.p. ~0.8 (``:884-908``),
- draw venue from a per-entity pool of 3 (``:930-948``);
- cross-entity pubs share at most 1 generic title token and no
  coauthors.

Everything is seeded (default 42); NO wall clock, NO unseeded
randomness — byte-identical output across runs.
"""

from __future__ import annotations

import hashlib
import json
import random

from pyspark.sql import DataFrame, SparkSession, types as T

REPO_FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# Vocabulary pools: distinctive per-entity topic words vs generic glue
# words that may collide across entities (at most 1 shared token).
_TOPIC_WORDS = [
    "quantum", "graphene", "bayesian", "convex", "genomic", "seismic",
    "plasma", "neural", "robotic", "crypto", "wavelet", "photonic",
    "spectral", "hydrology", "protein", "sparsity", "manifold", "turbulent",
    "epidemic", "semantic", "magnetar", "catalysis", "polymers", "antenna",
    "glacier", "enzyme", "nanotube", "cosmology", "ligand", "voltammetry",
]
_GENERIC_WORDS = [
    "analysis", "systems", "models", "methods", "study", "approach",
    "framework", "evaluation", "design", "applications",
]
_FIRST = ["wei", "lei", "jun", "ming", "yan", "bin", "hao", "li", "kai", "rui"]
_LAST = ["chen", "wang", "zhang", "liu", "yang", "huang", "zhao", "wu", "zhou", "xu"]
_VENUE_STEMS = [
    "icml", "kdd", "vldb", "sigmod", "nips", "cvpr", "acl", "www",
    "jmlr", "tkde", "pnas", "nature-comm", "prl", "jacs", "icde",
]

_BLOCK_NAMES = [
    "ajay gupta", "jim gray", "lei wang", "bin zhu", "david brown",
    "rakesh kumar", "yan li", "ken tanaka",
]
_SKEW_BLOCK = "john smith"


def _commit_hex(seed: int, pub_id: str) -> str:
    return hashlib.sha1(f"{seed}:{pub_id}".encode()).hexdigest()


def _make_block(
    rng: random.Random,
    block_key: str,
    n_entities: int,
    n_pubs: int,
    seed: int,
) -> list[dict]:
    """Build one name block: n_pubs records over n_entities true authors."""
    # Per-entity signal pools (disjoint topic words / coauthors / venues).
    entities = []
    for e in range(n_entities):
        # Entity topic pools are globally distinct within the block
        # (suffix like venues) — FIXTURES.md: cross-entity pubs share at
        # most 1 (generic) title token.
        base = rng.sample(_TOPIC_WORDS, k=3)
        pool = [f"{w}{e}" for w in base] if n_entities * 3 > len(_TOPIC_WORDS) else base
        if any(w in sum((x["topics"] for x in entities), []) for w in pool):
            pool = [f"{w}x{e}" for w in pool]
        coauthors = [
            f"{rng.choice(_FIRST)} {rng.choice(_LAST)}-{block_key.split()[-1][:3]}{e}{i}"
            for i in range(4)
        ]
        venues = [f"{rng.choice(_VENUE_STEMS)}-{e}" for _ in range(3)]
        entities.append({"topics": pool, "coauthors": coauthors, "venues": venues})

    # Zipf-ish entity sizes.
    weights = [1.0 / (i + 1) for i in range(n_entities)]
    total = sum(weights)
    sizes = [max(2, round(n_pubs * w / total)) for w in weights]

    rows = []
    k = 0
    for label, (ent, size) in enumerate(zip(entities, sizes)):
        for _ in range(size):
            pid_digest = hashlib.sha1(f"{seed}:{block_key}:{k}".encode()).hexdigest()
            pub_id = f"W{int(pid_digest[:12], 16) % 10**9:09d}k{k}"
            k += 1
            # Title: >=2 entity topic words w.p. 0.9, else 1 + generics.
            n_topic = 2 if rng.random() < 0.9 else 1
            title_words = rng.sample(ent["topics"], k=min(n_topic, len(ent["topics"])))
            title_words += rng.sample(_GENERIC_WORDS, k=3)
            rng.shuffle(title_words)
            title = " ".join(title_words)
            # Coauthors: share one w.p. 0.8.
            authors = [block_key]
            if rng.random() < 0.8:
                authors.append(rng.choice(ent["coauthors"][:2]))
            authors.append(rng.choice(ent["coauthors"]))
            venue = rng.choice(ent["venues"])
            record = {
                "block": block_key,
                "pub_id": pub_id,
                "title": title,
                "year": 1990 + rng.randrange(30),
                "authors": sorted(set(authors)),
                "venue": venue,
                "org": "null",
                "label": label,
            }
            rows.append(
                {
                    "repo": f"block-{block_key}",
                    "path": f"pubs/{pub_id}.json",
                    "commit": _commit_hex(seed, pub_id),
                    "lang": "json",
                    "content": json.dumps(record, sort_keys=True, separators=(",", ":")),
                }
            )
    return rows


def generate_repo_files(
    seed: int = 42,
    blocks: int = 8,
    pubs_per_block: int = 40,
    skew_factor: int = 10,
    decoy_rows: int = 5,
) -> list[dict]:
    """Generate the full fixture as plain dicts (driver-side; test scale)."""
    rng = random.Random(seed)
    rows: list[dict] = []
    for b in range(blocks):
        block_key = _BLOCK_NAMES[b % len(_BLOCK_NAMES)]
        if b >= len(_BLOCK_NAMES):
            block_key = f"{block_key} {b}"
        n_entities = 1 + rng.randrange(6)
        rows.extend(_make_block(rng, block_key, n_entities, pubs_per_block, seed))
    # Skewed mega-block: one block far larger than the rest, the
    # per-block kernels' worst case.
    rows.extend(
        _make_block(rng, _SKEW_BLOCK, 12, pubs_per_block * skew_factor, seed)
    )
    # Decoy non-json rows the pipeline must filter (lang predicate).
    for d in range(decoy_rows):
        rows.append(
            {
                "repo": "block-decoy",
                "path": f"notes/readme{d}.txt",
                "commit": _commit_hex(seed, f"decoy{d}"),
                "lang": "txt",
                "content": f"not a publication record {d}",
            }
        )
    return rows


def repo_files_dataframe(
    spark: SparkSession,
    seed: int = 42,
    blocks: int = 8,
    pubs_per_block: int = 40,
    skew_factor: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    rows = generate_repo_files(seed, blocks, pubs_per_block, skew_factor)
    df = spark.createDataFrame(rows, schema=REPO_FILES_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


def repo_files_dataframe_distributed(
    spark: SparkSession,
    seed: int = 42,
    blocks: int = 12000,
    pubs_per_block: int = 60,
    skew_factor: int = 6,
    decoy_rows: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Executor-side fixture generation for bench-scale inputs.

    The driver ships only block indices; each task synthesizes its
    blocks' rows (deterministic per-block rng: ``(seed<<20) ^ b``), so
    generation scales with the cluster instead of OOMing the driver.
    Index ``blocks`` is the skewed mega-block, ``blocks+1`` the decoys.
    """
    num_partitions = num_partitions or max(64, blocks // 100)
    names = list(_BLOCK_NAMES)
    ppb = pubs_per_block

    def gen_block(b: int) -> list[dict]:
        rng = random.Random((seed << 20) ^ b)
        if b == blocks:
            return _make_block(rng, _SKEW_BLOCK, 12, ppb * skew_factor, seed)
        if b == blocks + 1:
            return [
                {
                    "repo": "block-decoy",
                    "path": f"notes/readme{d}.txt",
                    "commit": _commit_hex(seed, f"decoy{d}"),
                    "lang": "txt",
                    "content": f"not a publication record {d}",
                }
                for d in range(decoy_rows)
            ]
        name = names[b % len(names)]
        block_key = name if b < len(names) else f"{name} {b}"
        n_entities = 1 + rng.randrange(6)
        return _make_block(rng, block_key, n_entities, ppb, seed)

    rdd = (
        spark.sparkContext.parallelize(range(blocks + 2), num_partitions)
        .flatMap(gen_block)
        .map(lambda d: (d["repo"], d["path"], d["commit"], d["lang"], d["content"]))
    )
    return spark.createDataFrame(rdd, schema=REPO_FILES_SCHEMA)
