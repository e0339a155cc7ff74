"""Seeded ``repo_files`` corpora for the benchmark.

Writes the engine's input schema (repo, path, commit, lang, content),
with ``content`` a canonical-JSON publication record, the same record
shape as ``fixtures.generator``. The benchmark owns this generator so
that the block structure (block count, entities per block, entity
sizes) is fixed by the workload and only the content varies with the
seed: timings then compare across seeds.

Two evidence profiles:

- ``dense``: every entity has a narrow signal (two topic words per
  title, a shared core coauthor, two venues). Mean matched score stays
  above ``refine_richness_max``, so refine and the semantic merge are
  gated off.
- ``sparse``: coauthors are rarely shared, titles carry at most one
  entity word, venue pools are wide. Mean matched score stays under
  ``refine_richness_max``, as on the reference's AMiner corpus, so
  refine and the Word2Vec semantic merge run.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass

_FIRST = [
    "ajay", "john", "lei", "ken", "rakesh", "david", "yan", "petra",
    "maria", "omar", "ingrid", "tomas", "akira", "nadia", "pavel", "sofia",
]
_LAST = [
    "gupta", "smith", "wang", "tanaka", "kumar", "brown", "li", "novak",
    "silva", "haddad", "larsen", "kowalski", "mori", "petrov", "rossi",
]
_TOPIC = [
    "quantum", "graphene", "bayesian", "convex", "genomic", "seismic",
    "plasma", "neural", "robotic", "crypto", "wavelet", "photonic",
    "spectral", "hydrology", "protein", "sparsity", "manifold", "turbulent",
    "epidemic", "semantic", "magnetar", "catalysis", "polymers", "antenna",
]
_GENERIC = [
    "analysis", "systems", "models", "methods", "study", "approach",
    "framework", "evaluation", "design", "applications", "theory",
    "results", "novel", "efficient", "learning", "control", "data",
    "networks", "estimation", "optimization",
]
_COAUTHOR_FIRST = ["wei", "jun", "ming", "bin", "hao", "kai", "rui", "anna", "li"]
_COAUTHOR_LAST = ["chen", "zhao", "wu", "zhou", "xu", "meyer", "costa", "ito"]
_VENUES = [
    "icml", "kdd", "vldb", "sigmod", "nips", "cvpr", "acl", "www",
    "jmlr", "tkde", "pnas", "prl", "jacs", "icde", "aaai", "ijcai",
]


@dataclass(frozen=True)
class Profile:
    topic_words: int  # entity topic words drawn into one title
    topic_pool: int  # entity topic vocabulary size
    coauthor_p: float  # chance a pub names one of the entity's core coauthors
    coauthor_pool: int
    venue_pool: int


PROFILES = {
    "dense": Profile(topic_words=2, topic_pool=3, coauthor_p=0.9, coauthor_pool=2, venue_pool=2),
    "sparse": Profile(topic_words=1, topic_pool=3, coauthor_p=0.35, coauthor_pool=6, venue_pool=6),
}


def block_names(n: int) -> list[str]:
    """``n`` distinct two-token author names (the blocking key)."""
    if n > len(_FIRST) * len(_LAST):
        raise ValueError(f"at most {len(_FIRST) * len(_LAST)} blocks")
    return [f"{_FIRST[i % len(_FIRST)]} {_LAST[i // len(_FIRST)]}" for i in range(n)]


def entity_sizes(pubs_per_block: int, entities: int) -> list[int]:
    """Zipf-like entity sizes summing to ``pubs_per_block``; seed-free."""
    w = [1.0 / (i + 1) for i in range(entities)]
    sizes = [max(2, int(pubs_per_block * x / sum(w))) for x in w]
    sizes[0] += pubs_per_block - sum(sizes)
    return sizes


class _Names:
    """A seeded bijection from the vocabulary to itself: the corpus shape
    is drawn once, and the seed only decides which string plays which
    part."""

    def __init__(self, seed: int):
        rng = random.Random(f"{seed}:names")
        self.prefix = hashlib.sha1(f"{seed}:ids".encode()).hexdigest()[:6]
        self._maps = {}
        for pool in (_TOPIC, _GENERIC, _COAUTHOR_FIRST, _COAUTHOR_LAST, _VENUES):
            perm = list(pool)
            rng.shuffle(perm)
            self._maps[id(pool)] = dict(zip(pool, perm))

    def __call__(self, pool: list[str], word: str) -> str:
        return self._maps[id(pool)][word]


def _block_rows(
    rng: random.Random, nm: _Names, seed: int, b: int, name: str, sizes: list[int], p: Profile
) -> list[dict]:
    rows = []
    k = 0
    for label, size in enumerate(sizes):
        topics = [f"{nm(_TOPIC, w)}{label}" for w in rng.sample(_TOPIC, p.topic_pool)]
        tag = name.split()[-1][:3]
        coauthors = [
            f"{nm(_COAUTHOR_FIRST, rng.choice(_COAUTHOR_FIRST))} "
            f"{nm(_COAUTHOR_LAST, rng.choice(_COAUTHOR_LAST))}{tag}{label}x{i}"
            for i in range(p.coauthor_pool)
        ]
        venues = [f"{nm(_VENUES, v)}-{label}" for v in rng.sample(_VENUES, p.venue_pool)]
        for _ in range(size):
            # ids keep their order across seeds, so tie-breaks on ids do too
            pub_id = f"P{nm.prefix}-b{b:03d}k{k:04d}"
            k += 1
            words = rng.sample(topics, p.topic_words) + [
                nm(_GENERIC, w) for w in rng.sample(_GENERIC, 2)
            ]
            rng.shuffle(words)
            noise = (
                f"{nm(_COAUTHOR_FIRST, rng.choice(_COAUTHOR_FIRST))} "
                f"{nm(_COAUTHOR_LAST, rng.choice(_COAUTHOR_LAST))}{rng.randrange(10**6)}"
            )
            authors = {name, noise}
            if rng.random() < p.coauthor_p:
                authors.add(rng.choice(coauthors))
            record = {
                "block": name,
                "pub_id": pub_id,
                "title": " ".join(words),
                "year": 1990 + rng.randrange(30),
                "authors": sorted(authors),
                "venue": rng.choice(venues),
                "org": "null",
                "label": label,
            }
            rows.append(
                {
                    "repo": f"block-{name}",
                    "path": f"pubs/{pub_id}.json",
                    "commit": hashlib.sha1(f"{seed}:{pub_id}".encode()).hexdigest(),
                    "lang": "json",
                    "content": json.dumps(record, sort_keys=True, separators=(",", ":")),
                }
            )
    return rows


def generate(
    seed: int,
    profile: str,
    blocks: int,
    pubs_per_block: int,
    entities: int,
    decoys: int = 3,
) -> list[dict]:
    """The corpus as ``repo_files`` dicts, byte-identical per seed.

    The shape (which pubs share which coauthor, venue or topic word) is
    the same for every seed; the seed renames the vocabulary, the ids
    and the row order.
    """
    p = PROFILES[profile]
    sizes = entity_sizes(pubs_per_block, entities)
    nm = _Names(seed)
    rows: list[dict] = []
    for b, name in enumerate(block_names(blocks)):
        shape = random.Random(f"shape:{profile}:{b}")
        rows.extend(_block_rows(shape, nm, seed, b, name, sizes, p))
    for d in range(decoys):
        rows.append(
            {
                "repo": "block-decoy",
                "path": f"notes/readme{d}.txt",
                "commit": hashlib.sha1(f"{seed}:decoy{d}".encode()).hexdigest(),
                "lang": "txt",
                "content": f"not a publication record {d}",
            }
        )
    random.Random(f"{seed}:order").shuffle(rows)
    return rows


def _place(row: dict) -> str:
    """A pub's place in the corpus shape: its id without the seed prefix."""
    return row["path"].split("-", 1)[1]


def hold_out(rows: list[dict], share: float) -> tuple[list[dict], list[dict]]:
    """Split off a deterministic ``share`` of the publication rows, chosen
    by their place in the corpus shape, so the same pubs are held out for
    every seed. Returns (kept, held out), the held-out rows in an order
that is also the same for every seed."""
    def key(r: dict) -> int:
        return int.from_bytes(hashlib.sha1(f"holdout:{_place(r)}".encode()).digest()[:4], "big")

    kept, held = [], []
    for r in rows:
        (held if r["lang"] == "json" and key(r) < share * 2**32 else kept).append(r)
    return kept, sorted(held, key=key)
