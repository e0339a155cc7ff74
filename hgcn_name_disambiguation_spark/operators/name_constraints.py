"""Focal-name signature constraints (engine extension; round 3).

The reference blocks records by ``first + last`` of the focal author
(``openAlex_to_HGCN.py:49-91``) and then never looks at the focal
author's OWN raw name again — yet that string carries the strongest
negative evidence in a block: "John A. Smith" can never be the same
person as "John W. Smith", and the reference's own ``raw-data/john
smith.xml`` block mixes Kenneth J. / Thomas J. / Richard J. Smith
under one key. This module turns that into cannot-link constraints:

1. ``focal_signature`` — per pub, the given-name token array of the
   block-focal author ("John R. Smith" -> ['john','r']); one row-local
   array expression (filter + sort), no shuffle and no Python.
2. ``signature_seeds`` — per block, the MAXIMAL signatures (not
   out-ranked by any more specific compatible signature) act as
   identity classes.
3. ``resolve_signature_classes`` — each pub takes its unique
   compatible seed or, when ambiguous ("J. Smith" is compatible with
   every class), the candidate class its match-edge evidence supports
   most, over ``RESOLVE_ROUNDS`` synchronous vote rounds (bounded
   label propagation).
4. ``incompatible_cut`` — true iff two pubs resolved to DIFFERENT
   classes or their raw signatures contradict. Used to cut match
   edges and to exclude cross-class evidence from cluster-level
   refinement.

Token compatibility (standard given-name subsumption): equal tokens
match; an initial matches any token with the same first letter;
position-wise over the zipped arrays, missing tail tokens match.

Only step 1 is a Spark column (``focal_signatures`` selects it).
Steps 2-4 are plain Python over one block's signatures and match
edges: blocks never interact, so ``plans.pipeline.build_match_context``
runs them inside its per-block kernel, with no joins, round loops or
actions.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.names import normalize_name

_SEP = "\x1f"

# vote rounds for ambiguous signatures: each round lets evidence reach
# one more hop from the pubs whose class is unique
RESOLVE_ROUNDS = 3


def sig_compatible(a: Sequence[str] | None, b: Sequence[str] | None) -> bool:
    """True iff given-name token sequences a and b are position-wise
    compatible: equal tokens, or an initial sharing the first letter;
    missing tail tokens match (zip truncates to the shorter one).
    Null/empty sequences carry no information -> compatible."""
    if a is None or b is None or not len(a) or not len(b):
        return True
    return all(
        x == y or ((len(x) == 1 or len(y) == 1) and x[:1] == y[:1])
        for x, y in zip(a, b)
    )


def _specificity(sig: Sequence[str]) -> tuple[int, int, int]:
    """(n_tokens, n_full_tokens, total_len), compared lexicographically."""
    return (len(sig), sum(len(t) > 1 for t in sig), sum(len(t) for t in sig))


def focal_signature(block_key: Column, authors: Column) -> Column:
    """The focal signature of one pub as a row-local column: the
    given-name tokens of the best focal-author candidate among
    ``authors``, null when there is none. A candidate is an author
    whose normalized LAST token equals the block's last name; the
    best one has the highest priority (2: first token equal to the
    block's first name, 1: initial-compatible first token, 0: other),
    then the longest signature (more given-name tokens = stronger
    cannot-link evidence), then the smallest first token, then the
    smallest signature, so the order is total."""
    bparts = F.split(block_key, " ")
    bfirst = F.element_at(bparts, 1)
    blast = F.element_at(bparts, -1)
    cands = F.filter(
        F.transform(authors, lambda a: F.split(normalize_name(a), " ")),
        lambda t: (F.size(t) >= 2) & (F.element_at(t, -1) == blast),
    )

    def ranked(t: Column) -> Column:
        g1 = F.element_at(t, 1)
        pri = (
            F.when(g1 == bfirst, 2)
            .when(
                (F.substring(g1, 1, 1) == F.substring(bfirst, 1, 1))
                & ((F.length(g1) == 1) | (F.length(bfirst) == 1)),
                1,
            )
            .otherwise(0)
        )
        # ascending struct order = priority and length descending
        return F.struct(
            (-pri).alias("pri"),
            (1 - F.size(t)).alias("len"),
            g1.alias("g1"),
            F.slice(t, 1, F.size(t) - 1).alias("sig"),
        )

    return F.get(F.array_sort(F.transform(cands, ranked)), 0)["sig"]


def focal_signatures(pubs: DataFrame) -> DataFrame:
    """(block_key, pub_id, authors) -> (block_key, pub_id, sig), one
    row per pub, with ``focal_signature``'s sig (null: no constraint)."""
    return pubs.select(
        "block_key",
        "pub_id",
        focal_signature(F.col("block_key"), F.col("authors")).alias("sig"),
    )


def signature_seeds(
    sigs: Iterable[Sequence[str] | None],
) -> list[tuple[str, ...]]:
    """One block's maximal signatures: the distinct non-empty sigs that
    no compatible sig strictly out-ranks on ``_specificity``; sorted."""
    d = sorted({tuple(s) for s in sigs if s is not None and len(s)})
    spec = {s: _specificity(s) for s in d}
    return [
        a
        for a in d
        if not any(spec[b] > spec[a] and sig_compatible(a, b) for b in d)
    ]


def resolve_signature_classes(
    sigs: Mapping[str, Sequence[str] | None],
    edges: Iterable[tuple[str, str, float | None]],
) -> dict[str, str]:
    """One block's {pub_id: sig_class} for every pub the constraint
    system can place; a class is its seed's tokens joined by ``_SEP``.

    ``sigs`` maps each pub to its focal signature, ``edges`` are the
    block's (id_a, id_b, score) match edges. A pub with one compatible
    seed takes it. An ambiguous pub takes the candidate class with the
    largest vote, the summed score of its edges to neighbours resolved
    before the round (null scores never vote), over ``RESOLVE_ROUNDS``
    rounds; ties go to the smaller class and a winning vote must be
    > 0. Pubs with no/empty sig, no compatible seed or no winning vote
    are absent (no constraint), and so is every pub of a block with
    fewer than 2 seeds (nothing to cut).
    """
    seeds = signature_seeds(sigs.values())
    if len(seeds) < 2:
        return {}
    cands: dict[str, list[str]] = {}
    for pub, sig in sigs.items():
        if sig is not None and len(sig):
            cands[pub] = [_SEP.join(s) for s in seeds if sig_compatible(sig, s)]
    classes = {p: c[0] for p, c in cands.items() if len(c) == 1}
    ambiguous = {p: set(c) for p, c in cands.items() if len(c) > 1}
    nbrs: dict[str, list[tuple[str, float]]] = {p: [] for p in ambiguous}
    for a, b, score in edges:
        if score is None:
            continue
        if a in nbrs:
            nbrs[a].append((b, score))
        if b in nbrs:
            nbrs[b].append((a, score))
    for _ in range(RESOLVE_ROUNDS):
        newly: dict[str, str] = {}
        for pub, cand in ambiguous.items():
            votes: dict[str, float] = {}
            for nbr, score in nbrs[pub]:
                c = classes.get(nbr)
                if c in cand:
                    votes[c] = votes.get(c, 0.0) + score
            if votes:
                c, v = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
                if v > 0:
                    newly[pub] = c
        if not newly:
            break
        classes.update(newly)
        for pub in newly:
            del ambiguous[pub]
    return classes


def incompatible_cut(
    sig_a: Sequence[str] | None,
    sig_b: Sequence[str] | None,
    class_a: str | None = None,
    class_b: str | None = None,
) -> bool:
    """True iff two pubs' focal names contradict —

    - both resolved to DIFFERENT signature classes, or
    - their RAW signatures are position-wise incompatible. The raw rule
      is what makes the cut robust for pubs the vote could NOT place
      (an ambiguous "J. M. Smith" may stay unresolved between "James
      M." and "John Maynard", yet its edges to "John A. Smith" are
      still provably wrong).
    """
    if class_a is not None and class_b is not None and class_a != class_b:
        return True
    return not sig_compatible(sig_a, sig_b)
