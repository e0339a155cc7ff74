"""Name normalization, blocking key, and string-similarity kernels.

- Blocking key = ``lower(first) + ' ' + lower(last)`` — the reference's
  name-match predicate (``openAlex_to_HGCN.py:49-91``) turned into a
  deterministic key; single-token names degrade to the lone token.
- Jaro-Winkler: no Spark built-in -> Arrow-batched pandas UDF
  (vectorized per batch; pure-python kernel from the published
  Jaro 1989 / Winkler 1990 formulas).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F, types as T


def normalize_name(col: Column) -> Column:
    """Lowercase, strip punctuation, collapse spaces."""
    c = F.lower(F.regexp_replace(col, r"[^\p{L}\p{N}\s]+", " "))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def block_key(name_col: Column) -> Column:
    """first + ' ' + last token of the normalized full name
    (``openAlex_to_HGCN.py:49-91`` semantics: first AND last must match;
    middle names do not participate)."""
    norm = normalize_name(name_col)
    parts = F.split(norm, " ")
    first = F.element_at(parts, 1)
    last = F.element_at(parts, -1)
    return F.when(F.size(parts) <= 1, norm).otherwise(
        F.concat_ws(" ", first, last)
    )


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if not len1 or not len2:
        return 0.0
    match_dist = max(len1, len2) // 2 - 1
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(len2, i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, p: float = 0.1, max_l: int = 4) -> float:
    j = _jaro(s1, s2)
    if j <= 0.7:
        return j
    l = 0
    for a, b in zip(s1[:max_l], s2[:max_l]):
        if a != b:
            break
        l += 1
    return j + l * p * (1.0 - j)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    cache: dict[tuple, float] = {}

    def jw(pair):
        x, y = pair
        if x is None or y is None:
            return 0.0
        key = (x, y) if x <= y else (y, x)
        v = cache.get(key)
        if v is None:
            v = jaro_winkler(x, y)
            cache[key] = v
        return v

    return pd.Series(map(jw, zip(a, b)), dtype="float64")


def name_tier(block_key_col: Column) -> Column:
    """Ambiguity tier of a blocking key — 'amb' | 'common' | 'rare'.

    Pure column expression (whole-stage codegen; the surname lists are
    broadcast literals). See ``config.CJK_SURNAMES`` /
    ``config.COMMON_SURNAMES`` for the prior's rationale; engine
    extension, no reference counterpart (the reference treats every
    name block identically, which is exactly why its unsupervised mode
    collapses on common-name blocks)."""
    from ..config import CJK_SURNAMES, COMMON_SURNAMES

    parts = F.split(block_key_col, " ")
    first = F.element_at(parts, 1)
    last = F.element_at(parts, -1)
    amb = (
        (F.size(parts) < 2)
        | (F.length(first) == 1)
        | (
            last.isin(*CJK_SURNAMES)
            & (F.size(parts) == 2)
            & (F.length(first) <= 5)
        )
    )
    return (
        F.when(amb, F.lit("amb"))
        .when(last.isin(*COMMON_SURNAMES), F.lit("common"))
        .otherwise(F.lit("rare"))
    )
