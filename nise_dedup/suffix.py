"""Suffix-array longest-common-substring (SURVEY §2.5 V3, §7.3 hard part 2).

Pure NumPy, no Spark imports — runs inside the verification stage's Arrow
batches. Catches containment / large-block copies whose shingle Jaccard is
diluted below tau_jaccard (the `block` duplicate class in FIXTURES.md §B).

Algorithm: generalized suffix array over ``a + SEP + b`` (SEP = 256, outside
the byte alphabet) built by prefix-doubling with ``np.lexsort`` —
O(n log^2 n), the pragmatic vectorizable choice (SA-IS does not vectorize).
The doubling rank tables double as an O(log n) LCP oracle (the classic
sparse-table walk), evaluated vectorized over all adjacent cross-document
suffix pairs at once — no per-character Python loop (so no Kasai).

LCS(a, b) = max LCP over suffix pairs adjacent in SA order, restricted to
pairs from different documents (standard reduction: LCP of any cross-doc
pair is the min of adjacent LCPs between them, so the max is attained on an
adjacent cross-doc pair). Correctness is property-tested against both a
brute-force O(n*m) DP and the oracle's suffix automaton (tests/test_suffix.py).
"""

from __future__ import annotations

import numpy as np

_SEP = 256


def _suffix_array_with_ranks(s: np.ndarray):
    """Prefix-doubling SA. Returns (sa, rank_tables, lengths) where
    rank_tables[k][i] ranks s[i : i + lengths[k]] (padded comparisons)."""
    n = s.shape[0]
    rank = np.unique(s, return_inverse=True)[1].astype(np.int64)
    tables = [rank]
    lengths = [1]
    length = 1
    while length < n and rank.max() != n - 1:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - length] = rank[length:]
        order = np.lexsort((key2, rank))
        k1o, k2o = rank[order], key2[order]
        changed = np.empty(n, dtype=np.int64)
        changed[0] = 0
        if n > 1:
            changed[1:] = (k1o[1:] != k1o[:-1]) | (k2o[1:] != k2o[:-1])
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(changed)
        rank = new_rank
        length *= 2
        tables.append(rank)
        lengths.append(length)
    sa = np.argsort(rank, kind="stable")
    return sa, tables, lengths


def _lcp_pairs(i: np.ndarray, j: np.ndarray, tables, lengths, n: int) -> np.ndarray:
    """Vectorized LCP of suffix pairs via the doubling rank tables."""
    i = i.astype(np.int64).copy()
    j = j.astype(np.int64).copy()
    res = np.zeros(i.shape[0], dtype=np.int64)
    for level in range(len(lengths) - 1, -1, -1):
        l = lengths[level]
        r = tables[level]
        ok = (i + l <= n) & (j + l <= n)
        idx = np.where(ok)[0]
        if idx.size:
            eq = r[i[idx]] == r[j[idx]]
            hit = idx[eq]
            res[hit] += l
            i[hit] += l
            j[hit] += l
    return res


def longest_common_substring(a: bytes, b: bytes) -> int:
    """Exact LCS length (in bytes) between two byte strings."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0
    s = np.empty(la + lb + 1, dtype=np.int32)
    s[:la] = np.frombuffer(a, dtype=np.uint8)
    s[la] = _SEP
    s[la + 1:] = np.frombuffer(b, dtype=np.uint8)
    n = s.shape[0]
    sa, tables, lengths = _suffix_array_with_ranks(s)
    doc = np.where(sa < la, 0, np.where(sa > la, 1, -1))
    keep = doc >= 0
    saf, docf = sa[keep], doc[keep]
    cross = docf[1:] != docf[:-1]
    if not cross.any():
        return 0
    i = saf[:-1][cross]
    j = saf[1:][cross]
    return int(_lcp_pairs(i, j, tables, lengths, n).max())
