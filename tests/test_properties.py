"""Property-based tests (hypothesis) for pure-Python kernels.

These guard invariant CLASSES rather than examples — motivated by the
round-3 hyperplane bug, where every example-level test passed while a
structural property (hash avalanche -> bucket spread) was silently
broken for every input. No Spark session: all targets are pure Python,
so hundreds of generated examples run in milliseconds.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from hgcn_name_disambiguation_spark.functions.text import porter_stem
from hgcn_name_disambiguation_spark.operators.clustering import _union_find
from hgcn_name_disambiguation_spark.operators.dedup import _M64, _mix64


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
