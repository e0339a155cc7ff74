"""Property-based tests (hypothesis) for pure-Python kernels.

These guard invariant CLASSES rather than examples — motivated by the
round-3 hyperplane bug, where every example-level test passed while a
structural property (hash avalanche -> bucket spread) was silently
broken for every input. No Spark session: all targets are pure Python,
so hundreds of generated examples run in milliseconds.
"""

from __future__ import annotations

import dataclasses
import math
import random

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from hgcn_name_disambiguation_spark.config import DEFAULT_CONFIG
from hgcn_name_disambiguation_spark.functions.text import porter_stem
from hgcn_name_disambiguation_spark.operators.assign import (
    _assign_kernel,
    _score_kernel,
)
from hgcn_name_disambiguation_spark.operators.clustering import (
    _cluster_block,
    _refine_rounds,
    _union_find,
)
from hgcn_name_disambiguation_spark.operators.dedup import _M64, _mix64
from hgcn_name_disambiguation_spark.operators.name_constraints import (
    incompatible_cut,
    resolve_signature_classes,
    sig_compatible,
    signature_seeds,
)
from hgcn_name_disambiguation_spark.plans.pipeline import _match_block


@given(st.integers(min_value=0, max_value=_M64))
def test_mix64_range_and_determinism(x):
    y = _mix64(x)
    assert 0 <= y <= _M64
    assert _mix64(x) == y


@settings(max_examples=300)
@given(
    st.integers(min_value=0, max_value=_M64),
    st.integers(min_value=0, max_value=63),
)
def test_mix64_single_bit_avalanche(x, bit):
    """Flipping ONE input bit must flip many output bits. The broken
    round-1/2 generator was linear in its inputs (zero avalanche),
    which collapsed every LSH bucket; splitmix64's finalizer gives
    ~32 flipped bits on average — 12 is a safe floor for any input."""
    y1 = _mix64(x)
    y2 = _mix64(x ^ (1 << bit))
    assert bin(y1 ^ y2).count("1") >= 12


@settings(max_examples=300)
@given(st.text(max_size=40))
def test_porter_stem_total_and_deterministic(w):
    """The stemmer is applied to arbitrary tokenizer output at corpus
    scale — it must be total (never raise) and deterministic. NOTE:
    Porter is NOT idempotent (measured: 533 of 11k corpus vocabulary
    words stem differently on a second pass, e.g. 'courses' -> 'cours'
    -> 'cour'), so idempotence is deliberately not asserted."""
    s = porter_stem(w)
    assert isinstance(s, str)
    assert porter_stem(w) == s


@settings(max_examples=300)
@given(st.from_regex(r"[a-z]{1,30}", fullmatch=True))
def test_porter_stem_stays_lowercase_alpha(w):
    s = porter_stem(w)
    assert s == "" or s.isascii()
    assert all("a" <= c <= "z" for c in s)
    # suffix stripping may rewrite (e.g. 'at' -> 'ate') but never grows
    # a word by more than one character
    assert len(s) <= len(w) + 1


_block_edges = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.sampled_from([f"p{i}" for i in range(8)]),
        st.sampled_from([f"p{i}" for i in range(8)]),
    ),
    min_size=1,
    max_size=30,
)


def _kernel(edges):
    """Run the per-block connected-components kernel the way the
    grouped map does: once per block, outputs concatenated."""
    out = {}
    for bk in sorted({e[0] for e in edges}):
        pdf = pd.DataFrame(
            [e for e in edges if e[0] == bk], columns=["block_key", "src", "dst"]
        )
        for r in _union_find(pdf).itertuples(index=False):
            assert (r.block_key, r.node) not in out
            out[(r.block_key, r.node)] = r.component
    return out


def _oracle(edges):
    """Components by repeated min-label propagation to a fixpoint."""
    label = {(b, n): n for b, u, v in edges if u != v for n in (u, v)}
    changed = True
    while changed:
        changed = False
        for b, u, v in edges:
            if u == v:
                continue
            m = min(label[(b, u)], label[(b, v)])
            for n in (u, v):
                if label[(b, n)] != m:
                    label[(b, n)] = m
                    changed = True
    return label


@settings(max_examples=300)
@given(_block_edges, st.randoms(use_true_random=False))
def test_union_find_kernel_equals_oracle_in_any_edge_order(edges, rnd):
    """The CC kernel gives every node of a non-self-loop edge its
    block's min-node component id, whatever the edge order."""
    want = _oracle(edges)
    assert _kernel(edges) == want
    shuffled = list(edges)
    rnd.shuffle(shuffled)
    assert _kernel(shuffled) == want


_PUBS = [f"p{i}" for i in range(8)]

_refine_inputs = st.tuples(
    # each pub's input cluster id
    st.lists(
        st.sampled_from(["c0", "c1", "c2", "c3", "c4"]), min_size=1, max_size=8
    ),
    # evidence rows; "px" is not a member, so its rows never count
    st.lists(
        st.tuples(
            st.sampled_from(_PUBS + ["px"]),
            st.sampled_from(_PUBS + ["px"]),
            # dyadic scores: every partial sum is exact, in any order
            st.integers(min_value=0, max_value=8).map(lambda k: k / 8),
        ),
        max_size=20,
    ),
    st.sampled_from([0.25, 0.5, 1.0]),  # _tau
    st.sampled_from([1, 2]),  # _me
    st.integers(min_value=1, max_value=4),  # rounds
)


def _refine(cids, evidence, tau, me, rounds):
    """Run the refine round loop on one block -> {pub: output cluster
    id}."""
    start = dict(zip(_PUBS, cids))
    got = _refine_rounds(dict(start), list(evidence), tau, me, rounds)
    assert set(got) == set(start) and set(got.values()) <= set(cids)
    return got


def _refine_oracle(cids, evidence, tau, me, rounds):
    """Refine rounds by brute force: every cluster pair's evidence is
    collected from scratch, accepted pairs close by min-label
    propagation to a fixpoint."""
    label = dict(zip(_PUBS, cids))
    for _ in range(rounds):
        clusters = sorted(set(label.values()))
        size = {c: list(label.values()).count(c) for c in clusters}
        accepted = []
        for i, a in enumerate(clusters):
            for b in clusters[i + 1:]:
                scores = [
                    s for x, y, s in evidence
                    if x in label and y in label
                    and {label[x], label[y]} == {a, b}
                ]
                if len(scores) >= me and (
                    sum(scores) / min(size[a], size[b]) >= tau
                ):
                    accepted.append((a, b))
        if not accepted:
            break
        comp = {c: c for c in clusters}
        changed = True
        while changed:
            changed = False
            for a, b in accepted:
                m = min(comp[a], comp[b])
                for c in (a, b):
                    if comp[c] != m:
                        comp[c] = m
                        changed = True
        label = {p: comp[c] for p, c in label.items()}
    return label


@settings(max_examples=300)
@given(_refine_inputs, st.randoms(use_true_random=False))
def test_refine_kernel_coarsens_to_min_ids_in_any_order(inputs, rnd):
    """The refine kernel only merges whole input clusters, names every
    output group by its minimum input cluster id, gives the same answer
    whatever the evidence row order, and agrees with a brute-force
    replay of the rounds."""
    cids, evidence, tau, me, rounds = inputs
    got = _refine(cids, evidence, tau, me, rounds)
    assert got == _refine_oracle(cids, evidence, tau, me, rounds)
    pubs = _PUBS[: len(cids)]
    cid = dict(zip(pubs, cids))
    for p in pubs:
        for q in pubs:
            if cid[p] == cid[q]:
                assert got[p] == got[q]
    for out_id in set(got.values()):
        assert out_id == min(cid[p] for p in pubs if got[p] == out_id)
    shuffled = list(evidence)
    rnd.shuffle(shuffled)
    assert _refine(cids, shuffled, tau, me, rounds) == got


_cluster_ids = st.sampled_from(_PUBS[:5] + ["px"])  # "px" is no member
_cluster_inputs = st.tuples(
    st.integers(min_value=1, max_value=8),  # members: the first n pubs
    # match-kernel pair rows (a, b, score, in_match, evidence, is_weak),
    # mostly unmatched so that refine has clusters left to merge
    st.lists(
        st.tuples(
            _cluster_ids,
            _cluster_ids,
            st.integers(min_value=0, max_value=8).map(lambda k: k / 8),
            st.sampled_from([False, False, True, None]),
            st.booleans(),
            st.sampled_from([True, False, None]),
        ),
        max_size=24,
    ),
    # the block's trait row (tier, sparse, gated), or none; half of
    # them sparse
    st.sampled_from(
        [None] + [
            (tier, sparse, gated)
            for tier in ("rare", "common", "amb", None)
            for sparse in (True, False, True, None)
            for gated in (False, True)
        ]
    ),
    st.integers(min_value=0, max_value=4),  # cluster_refine_rounds
)

# thresholds that dyadic scores over blocks of <= 8 pubs both clear
# and miss, so every tier's pair of knobs is exercised
_CLUSTER_CONFIG = dict(
    refine_tau_rare=0.25, refine_tau_common=0.5, refine_tau_amb=1.0,
    refine_min_edges_rare=1, refine_min_edges_common=2,
    refine_min_edges_amb=2,
)


def _cluster_rows(pairs, trait):
    rows = [("b", a, b, s, weak, m, ev, None, None, None)
            for a, b, s, m, ev, weak in pairs]
    if trait is not None:
        rows.append(("b", None, None, None, None, None, None) + trait)
    return rows


def _run_cluster_kernel(n, rows, config):
    frame = pd.DataFrame(
        rows,
        columns=["block_key", "id_a", "id_b", "score", "is_weak",
                 "in_match", "evidence", "tier", "sparse", "gated"],
    )
    members = pd.DataFrame({"block_key": "b", "pub_id": _PUBS[:n]})
    out = _cluster_block(frame, members, config)
    assert sorted(out["pub_id"]) == _PUBS[:n]
    assert set(out["block_key"]) == {"b"}
    return dict(zip(out["pub_id"], out["cluster_id"]))


def _cluster_oracle(n, pairs, trait, rounds):
    """Label-propagation components of the in_match pairs (unmatched
    pubs keep their own id), then, in a sparse block, the brute-force
    refine replay over the counted evidence: SQL's
    ``~(gated & is_weak)`` keeps a row when the AND is False."""
    label = _oracle([("b", a, b) for a, b, _, m, _, _ in pairs if m is True])
    cids = [label.get(("b", p), p) for p in _PUBS[:n]]
    if trait is None or trait[1] is not True:
        return dict(zip(_PUBS, cids))
    tier, _, gated = trait
    tau, me = {"rare": (0.25, 1), "common": (0.5, 2)}.get(tier, (1.0, 2))
    evidence = [
        (a, b, s) for a, b, s, _, ev, weak in pairs
        if ev and (gated and weak) is False
    ]
    return _refine_oracle(cids, evidence, tau, me, rounds)


@settings(max_examples=300)
@given(_cluster_inputs, st.randoms(use_true_random=False))
def test_cluster_kernel_equals_components_then_refine(inputs, rnd):
    """The per-block clustering kernel gives every member one cluster
    id: the components of its in_match pairs refined under the block's
    traits, as label propagation followed by the refine oracle gives
    them, whatever the row order."""
    import dataclasses

    n, pairs, trait, rounds = inputs
    config = dataclasses.replace(
        DEFAULT_CONFIG, cluster_refine_rounds=rounds, **_CLUSTER_CONFIG
    )
    rows = _cluster_rows(pairs, trait)
    want = _cluster_oracle(n, pairs, trait, rounds)
    assert _run_cluster_kernel(n, rows, config) == want
    rnd.shuffle(rows)
    assert _run_cluster_kernel(n, rows, config) == want


# given-name signatures over a small alphabet: initials, full names and
# two names sharing an initial, so compatible, contradicting and
# ambiguous signatures are all common
_sig = st.one_of(
    st.none(),
    st.lists(
        st.sampled_from(["j", "john", "jim", "a", "al", "w"]), max_size=3
    ),
)

_block_sigs = st.tuples(
    # a pool of seeds and of pubs ambiguous between them keeps votes
    # frequent; free draws add every other shape
    st.lists(
        st.one_of(
            st.sampled_from(
                [("john", "a"), ("john", "w"), ("jim", "w"), ("j", "a"),
                 ("john",), ("j",), ("jim",), ("al",), (), None]
            ),
            _sig,
        ),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(_PUBS + ["px"]),
            st.sampled_from(_PUBS + ["px"]),
            # dyadic scores: every vote sum is exact, in any order
            st.integers(min_value=0, max_value=8).map(lambda k: k / 8),
        ),
        min_size=4,
        max_size=30,
    ),
)


_class = st.sampled_from([None, "c1", "c2"])


def _spec(sig):
    return (len(sig), sum(len(t) > 1 for t in sig), sum(len(t) for t in sig))


@settings(max_examples=300)
@given(_sig, _sig, _class, _class)
def test_sig_compatible_and_cut_are_symmetric(a, b, ca, cb):
    assert sig_compatible(a, b) == sig_compatible(b, a)
    assert incompatible_cut(a, b, ca, cb) == incompatible_cut(b, a, cb, ca)


@settings(max_examples=300)
@given(_block_sigs, st.randoms(use_true_random=False))
@example(
    # p3 ("john") may only vote between the two john classes; its
    # strongest edge goes to the "jim w" pub, which is no candidate
    (
        [("john", "a"), ("john", "w"), ("jim", "w"), ("john",)],
        [("p3", "p2", 1.0), ("p3", "p0", 0.25)],
    ),
    random.Random(0),
)
def test_signature_classes_are_compatible_seeds_in_any_order(inputs, rnd):
    """Seeds are maximal; every resolved class is a seed compatible with
    the pub's signature; a pub with one compatible seed takes it
    whatever the edges; and the classes do not depend on pub or edge
    order."""
    sig_list, edges = inputs
    sigs = dict(zip(_PUBS, sig_list))
    seeds = signature_seeds(sigs.values())
    distinct = {tuple(s) for s in sig_list if s}
    assert set(seeds) <= distinct
    for s in seeds:
        assert not any(
            _spec(t) > _spec(s) and sig_compatible(s, t) for t in distinct
        )

    classes = resolve_signature_classes(sigs, edges)
    key = {"\x1f".join(s): s for s in seeds}
    for pub, c in classes.items():
        assert c in key and sig_compatible(sigs[pub], key[c])
    if len(seeds) >= 2:
        for pub, sig in sigs.items():
            cands = [s for s in seeds if sig and sig_compatible(sig, s)]
            if len(cands) == 1:
                assert classes[pub] == "\x1f".join(cands[0])
                assert resolve_signature_classes(sigs, []).get(pub) == classes[pub]
    else:
        assert classes == {}

    pubs = list(sigs.items())
    rnd.shuffle(pubs)
    shuffled = list(edges)
    rnd.shuffle(shuffled)
    assert resolve_signature_classes(dict(pubs), shuffled) == classes


# one assignment block: snapshot pubs (toks, authors, venue, cluster)
# and new pubs (toks, authors, venue) over tiny alphabets, so shared,
# hot and unseen tokens, hot keys and exact ties are all common
_ASSIGN_CAP = 2  # both the hot-key cap and max_token_df_per_block
_toks = st.lists(st.sampled_from(["x", "y", "z", "w"]), max_size=3)
_authors = st.lists(st.sampled_from(["ann", "bob", "cy"]), max_size=2)
_venue = st.sampled_from([None, "v1", "v2"])
_assign_inputs = st.tuples(
    st.lists(
        st.tuples(_toks, _authors, _venue, st.sampled_from(["c0", "c1", "c2"])),
        max_size=6,
    ),
    # "u" is never in the snapshot: an unseen token
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(["x", "y", "z", "w", "u"]), max_size=3),
            _authors,
            _venue,
        ),
        min_size=1,
        max_size=3,
    ),
    st.sampled_from([0.0, 0.05, 0.2, 0.5]),  # assign_threshold
)


def _assign_profile(snap):
    """The snapshot rows ``cluster_profiles`` keeps, for one block."""
    return pd.DataFrame(
        [("b", f"p{i}", c, a, v, t) for i, (t, a, v, c) in enumerate(snap)],
        columns=["block_key", "pub_id", "cluster_id", "authors", "venue",
                 "title_toks"],
    )


def _assign_new(new):
    return pd.DataFrame(
        [("b", f"n{i}", a, v, t) for i, (t, a, v) in enumerate(new)],
        columns=["block_key", "pub_id", "authors", "venue", "title_toks"],
    )


def _assign_oracle(snap, new, threshold):
    """Score every (new pub, cluster) pair from the raw snapshot rows,
    as the ``assign.py`` docstring states the channels ->
    ({pub: {cluster: (a, t, v, fused)}}, {pub: (cluster, fused)})."""
    n = len(snap)

    def df(t):
        return sum(t in r[0] for r in snap)

    def idf(t):  # unseen tokens count at ln(n_block + 1)
        return math.log((n + 1.0) / df(t)) if df(t) else math.log(n + 1.0)

    def clusters_with(i, k):
        return {r[3] for r in snap if k in (r[i] if i < 2 else [r[i]])}

    scores, best = {}, {}
    for j, (toks, authors, venue) in enumerate(new):
        pid = f"n{j}"
        mine = {t for t in toks if df(t) <= _ASSIGN_CAP}
        p_norm = math.sqrt(math.fsum(idf(t) ** 2 for t in mine))
        scores[pid] = {}
        for c in {r[3] for r in snap}:
            a = float(any(c in clusters_with(1, x) and len(clusters_with(1, x))
                          <= _ASSIGN_CAP for x in authors))
            v = float(venue is not None and c in clusters_with(2, venue)
                      and len(clusters_with(2, venue)) <= _ASSIGN_CAP)
            theirs = {t for r in snap if r[3] == c for t in r[0]
                      if df(t) <= _ASSIGN_CAP}
            c_norm = math.sqrt(math.fsum(idf(t) ** 2 for t in theirs))
            shared = mine & theirs
            if not (a or v or shared):
                continue
            t = (math.fsum(idf(x) ** 2 for x in shared) / (p_norm * c_norm)
                 if p_norm > 0 and c_norm > 0 else 0.0)
            scores[pid][c] = (a, t, v, (5 * a + 1 * t + 4 * v) / 10)
        best[pid] = max(
            ((s[3], c) for c, s in scores[pid].items() if s[3] >= threshold),
            default=(None, None),
        )[::-1]
    return scores, best


def _run_assign_kernels(new_df, prof, threshold):
    cfg = dataclasses.replace(
        DEFAULT_CONFIG, assign_hot_key_clusters=_ASSIGN_CAP,
        max_token_df_per_block=_ASSIGN_CAP, assign_threshold=threshold,
    )
    scored = _score_kernel(new_df, prof, cfg)
    scores = {p: {} for p in new_df["pub_id"]}
    for r in scored.itertuples():
        assert r.cluster_id not in scores[r.pub_id]
        scores[r.pub_id][r.cluster_id] = (r.a, r.t, r.v, r.fused)
    picked = _assign_kernel(new_df, prof, cfg)
    assert sorted(picked["pub_id"]) == sorted(new_df["pub_id"])
    best = {
        r.pub_id: (r.cluster_id, None if pd.isna(r.fused) else r.fused)
        for r in picked.itertuples()
    }
    return scores, best


@settings(max_examples=300)
@given(_assign_inputs, st.randoms(use_true_random=False))
# c0's norm sums four idf² terms, and this shuffle changes their row
# order: a norm summed in row order differs in the last bit
@example(
    ([(["x", "y"], [], None, "c0"), (["z", "w"], [], None, "c0"),
      (["x", "y"], [], None, "c1")], [(["x"], [], None)], 0.0),
    random.Random(0),
)
def test_assign_kernel_equals_oracle_in_any_row_order(inputs, rnd):
    """The per-block scoring and assignment kernels agree with a
    brute-force scoring of every (new pub, cluster) pair: hot keys and
    hot tokens dropped on both sides, unseen tokens at ln(n_block+1),
    fused >= threshold, ties to the greatest cluster_id, one row per new
    pub. Shuffling the snapshot rows or the new rows changes nothing, not
    a bit of any score."""
    snap, new, threshold = inputs
    prof, new_df = _assign_profile(snap), _assign_new(new)
    scores, best = _run_assign_kernels(new_df, prof, threshold)
    want_scores, want_best = _assign_oracle(snap, new, threshold)
    assert scores.keys() == want_scores.keys()
    for pid, cands in want_scores.items():
        assert cands.keys() == scores[pid].keys()
        for c, s in cands.items():
            assert scores[pid][c] == pytest.approx(s, abs=1e-12)
    assert {p: b[0] for p, b in best.items()} == {
        p: b[0] for p, b in want_best.items()
    }
    for pid, (_, fused) in want_best.items():
        assert best[pid][1] == pytest.approx(fused, abs=1e-12)
    shuffled = _run_assign_kernels(
        new_df.sample(frac=1, random_state=rnd.randrange(2**32)),
        prof.sample(frac=1, random_state=rnd.randrange(2**32)),
        threshold,
    )
    assert shuffled == (scores, best)


# one match-kernel block: pubs (coauthor keys, venue, org, title tokens)
# over tiny alphabets, so shared keys, hot keys (small caps), null
# venues and orgs, empty titles and score ties are all common
_member = st.tuples(
    st.lists(st.sampled_from(["ann", "bob", "cy"]), max_size=3, unique=True),
    st.sampled_from([None, "v1", "v2"]),
    st.sampled_from([None, "o1", "o2"]),
    st.lists(st.sampled_from(["x", "y", "z", "w"]), max_size=3, unique=True),
)
_kernel_config = st.builds(
    lambda co, ve, og, tok, k, mto, mco: dataclasses.replace(
        DEFAULT_CONFIG,
        max_coauthor_df_per_block=co,
        max_venue_df_per_block=ve,
        max_org_df_per_block=og,
        max_token_df_per_block=tok,
        max_pairs_per_block=k,
        min_title_overlap=mto,
        min_title_cos_overlap=mco,
    ),
    *[st.integers(min_value=1, max_value=8)] * 4,
    st.sampled_from([0, 0, 1, 3]),
    st.sampled_from([1, 2]),
    st.sampled_from([1, 2]),
)


def _pairs_oracle(members, cfg):
    """Every pair of the block compared directly (O(n^2)): {(a, b):
    (w_coauthor, w_title, title_cos, w_venue, w_org, is_match,
    is_weak)}, after the per-block top-k."""
    n = len(members)

    def df(col, key):
        return sum(key == v or (isinstance(v, list) and key in v)
                   for v in (m[col] for m in members.values()))

    idf = {t: math.log((n + 1.0) / df(3, t))
           for m in members.values() for t in m[3]}

    def live(col, cap):
        return lambda key: key is not None and df(col, key) <= cap

    tok_ok = live(3, cfg.max_token_df_per_block)
    norm = {p: math.sqrt(math.fsum(idf[t] * idf[t] for t in m[3] if tok_ok(t)))
            for p, m in members.items()}
    out = {}
    ids = sorted(members)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ma, mb = members[a], members[b]
            co = len([k for k in set(ma[0]) & set(mb[0])
                      if live(0, cfg.max_coauthor_df_per_block)(k)])
            ve = ma[1] == mb[1] and live(1, cfg.max_venue_df_per_block)(ma[1])
            og = ma[2] == mb[2] and live(2, cfg.max_org_df_per_block)(ma[2])
            shared = [t for t in set(ma[3]) & set(mb[3]) if tok_ok(t)]
            titled = len(shared) >= max(1, cfg.min_title_cos_overlap)
            if not (co or ve or og or titled):
                continue
            w_title = float(len(shared)) if (
                titled and len(shared) >= cfg.min_title_overlap
            ) else 0.0
            cos = (math.fsum(idf[t] * idf[t] for t in shared) / (norm[a] * norm[b])
                   if titled else 0.0)
            score = (5.0 * min(1, co) + cos + 4.0 * ve) / 10.0 + 4.0 * og / 10.0
            strong = cos >= cfg.strong_title_cos and w_title > 0
            out[(a, b)] = (
                float(co), w_title, cos, float(ve), float(og),
                score > cfg.match_threshold or strong,
                co == 0 and not og and cos < cfg.strong_title_cos,
                score,
            )
    if cfg.max_pairs_per_block:
        top = sorted(out, key=lambda p: (-out[p][-1], p))[: cfg.max_pairs_per_block]
        out = {p: out[p] for p in top}
    return {p: v[:-1] for p, v in out.items()}


@settings(max_examples=300, deadline=None)
@given(
    st.lists(_member, min_size=1, max_size=8),
    _kernel_config,
    st.randoms(use_true_random=False),
)
def test_match_kernel_pairs_equal_brute_force(rows, cfg, rnd):
    """The match kernel's candidate pairs, weights and flags equal a
    brute-force comparison of every pair of the block, in any row
    order: the same pair set and flags, weights within 1e-12, one trait
    row."""
    members = {f"p{i}": r for i, r in enumerate(rows)}
    order = list(members)
    rnd.shuffle(order)
    pdf = pd.DataFrame({
        "block_key": ["ann lee"] * len(order),
        "pub_id": order,
        "auth": [members[p][0] for p in order],
        "venue": [members[p][1] for p in order],
        "org": [members[p][2] for p in order],
        "title_toks": [members[p][3] for p in order],
        "sig": [None] * len(order),
        "tier": ["rare"] * len(order),
    })
    out = _match_block(pdf, cfg)
    want = _pairs_oracle(members, cfg)
    pairs = out[out["id_a"].notna()]
    got = {
        (r.id_a, r.id_b): (r.w_coauthor, r.w_title, r.title_cos, r.w_venue,
                           r.w_org, r.is_match, r.is_weak)
        for r in pairs.itertuples(index=False)
    }
    assert len(got) == len(pairs)
    assert got.keys() == want.keys()
    for p, g in got.items():
        assert g[5:] == want[p][5:], p
        assert g[:5] == pytest.approx(want[p][:5], abs=1e-12, rel=0), p
    assert out["id_a"].isna().sum() == 1
