"""Vectorized hash primitives shared by the Spark signature UDFs.

Pure NumPy, no Spark imports — executors import this inside pandas UDFs
(SURVEY §2.3 S1–S4). All arithmetic is unsigned 64-bit with wraparound
(numpy uint64 array semantics), fully deterministic given ``DedupConfig.seed``.

The frozen single-node oracle (tests/oracle.py) REIMPLEMENTS these formulas
independently with plain Python ints; tests assert bit-identical agreement,
which is what makes "identical shingle/band/row signature configuration"
(BASELINE.json) meaningful.

Hash family: splitmix64 finalizer (Steele et al., public domain) — a strong
64-bit mixer over a Rabin-Karp style byte polynomial (``window_hashes``).
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
_M1 = U64(0xBF58476D1CE4E5B9)
_M2 = U64(0x94D049BB133111EB)
_POLY_BASE = U64(0x100000001B3)  # FNV-ish odd base for the byte polynomial
_GOLDEN = U64(0x9E3779B97F4A7C15)


def normalize_text(s: str, mode: str) -> str:
    """R1 — canonicalization feeding shingling/LCS only (never `content`).

    "ws": rstrip each line, drop blank lines, join with "\\n". Makes
    whitespace-churn near-dups signature-identical while leaving leading
    indentation (significant in code) intact. "none": identity.
    The oracle (tests/oracle.py) reimplements this definition independently.
    """
    if mode == "none":
        return s
    if mode == "ws":
        lines = [ln.rstrip() for ln in s.split("\n")]
        return "\n".join(ln for ln in lines if ln)
    raise ValueError(f"unknown normalize mode: {mode!r}")


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, elementwise over uint64 arrays (wraps mod 2^64)."""
    x = np.asarray(x, dtype=U64)
    x = (x ^ (x >> U64(30))) * _M1
    x = (x ^ (x >> U64(27))) * _M2
    return x ^ (x >> U64(31))


def hash_seeds(n: int, seed: int) -> np.ndarray:
    """n deterministic 64-bit seeds: mix64(seed + i*golden)."""
    i = np.arange(n, dtype=U64)
    return mix64(U64(seed % (1 << 64)) + i * _GOLDEN)


_BINV = U64(pow(0x100000001B3, -1, 1 << 64))  # B odd -> invertible mod 2^64
_pow_cache = np.ones(1, dtype=U64)
_ipow_cache = np.ones(1, dtype=U64)


def _powers(n: int):
    """Cached B^i and B^-i tables, grown on demand (module-level, per
    worker process)."""
    global _pow_cache, _ipow_cache
    if _pow_cache.shape[0] < n:
        m = max(n, 2 * _pow_cache.shape[0])
        p = np.empty(m, dtype=U64)
        p[0] = 1
        p[1:] = np.cumprod(np.full(m - 1, _POLY_BASE, dtype=U64), dtype=U64)
        ip = np.empty(m, dtype=U64)
        ip[0] = 1
        ip[1:] = np.cumprod(np.full(m - 1, _BINV, dtype=U64), dtype=U64)
        _pow_cache, _ipow_cache = p, ip
    return _pow_cache, _ipow_cache


def window_hashes(b: np.ndarray, w: int) -> np.ndarray:
    """Polynomial hash sum_j b[i+j] * B^j (mod 2^64) of every w-window of
    the uint8 array ``b`` (w <= b.size): the shingle sets (w = k) and the
    deep cascade's LCS grams (w = the needed match length).

    O(m) via prefix sums Q[i] = sum_{j<i} b[j] * B^j and
    H(i) = (Q[i+w] - Q[i]) * B^-i (B odd, so invertible mod 2^64): no
    m-by-w window matrix, memory traffic linear in the array size.
    """
    n = b.size
    pw, ipw = _powers(n)
    q = np.empty(n + 1, dtype=U64)
    q[0] = 0
    np.cumsum(b.astype(U64) * pw[:n], out=q[1:], dtype=U64)
    return (q[w:] - q[: n - w + 1]) * ipw[: n - w + 1]


def shingle_hashes(content: bytes, k: int) -> np.ndarray:
    """Sorted distinct 64-bit hashes of the char k-grams of ``content``:
    ``window_hashes`` at w = k, finalized with mix64.

    A document shorter than k yields ONE shingle: the hash of the whole
    byte string (so short files still get signatures; the DuckDB oracle
    mirrors this as ``case when length(text) < k then 1 ...``). An empty
    document is one zero byte.
    """
    b = np.frombuffer(content, dtype=np.uint8)
    if b.size == 0:
        b = np.zeros(1, dtype=np.uint8)
    return np.unique(mix64(window_hashes(b, min(k, b.size))))


def minhash(shingles: np.ndarray, seeds: np.ndarray,
            chunk: int = 1 << 15) -> np.ndarray:
    """Classic k-permutation MinHash: min_i over shingles of
    mix64(x ^ seed_i). O(m·n) — the ``minhash_scheme="kperm"`` path; the
    pipeline uses ``minhash_oph_batch`` (O(m)) by default. Returns
    uint64[n_perm].
    """
    n = seeds.shape[0]
    out = np.full(n, np.iinfo(np.uint64).max, dtype=U64)
    for lo in range(0, shingles.shape[0], chunk):
        x = shingles[lo:lo + chunk]
        h = mix64(x[None, :] ^ seeds[:, None])  # (n, chunk)
        np.minimum(out, h.min(axis=1), out=out)
    return out


# Batch kernels: each formula runs over all documents of one Arrow batch,
# held as (values, starts) — every document's sorted unique shingle hashes
# concatenated, document d's set at values[starts[d]:starts[d+1]] — or as a
# uint64[(n_docs, n)] matrix: one numpy pass per batch instead of ~40 small
# calls per document (1.9 ms/doc at sf1.0).

def shingle_sets_batch(raws: list[bytes], k: int) -> tuple[np.ndarray,
                                                           np.ndarray]:
    """``shingle_hashes`` of every document, as (values, starts). One sort
    per document: a batch-wide (document, value) sort of all windows cost
    ~6x more per document."""
    parts = [shingle_hashes(r, k) for r in raws]
    sizes = np.fromiter((p.size for p in parts), dtype=np.int64,
                        count=len(parts))
    starts = np.concatenate(([0], np.cumsum(sizes)))
    return (np.concatenate(parts) if parts else
            np.empty(0, dtype=U64)), starts


def minhash_oph_batch(values: np.ndarray, starts: np.ndarray, n: int,
                      seed: int) -> np.ndarray:
    """One-permutation MinHash (Li/Owen/Zhang '12) with circular
    densification (Shrivastava/Li '14) — uint64[(n_docs, n)]. Each shingle
    hash is rehashed once into bin h mod n, each bin keeps its minimum, and
    an empty bin borrows the nearest non-empty bin to its right (circular),
    remixed with the borrow distance so different sparsity patterns don't
    fake agreement. O(m), with E[bin_a == bin_b] ~= Jaccard."""
    d = starts.size - 1
    MAXV = np.iinfo(np.uint64).max
    h = mix64(values ^ U64(seed & 0xFFFFFFFFFFFFFFFF) ^ _GOLDEN)
    bins = (h % U64(n)).astype(np.int64)
    doc = np.repeat(np.arange(d, dtype=np.int64),
                    np.diff(starts).astype(np.int64))
    vals = np.full(d * n, MAXV, dtype=U64)
    np.minimum.at(vals, doc * n + bins, h)
    vals = vals.reshape(d, n)
    empty = vals == MAXV
    # remix the filled minima: raw minima satisfy value % n == bin, so their
    # low bits are bin-determined and IDENTICAL across documents — b-bit
    # sketches over them would always agree. mix64 is a bijection, so
    # equality semantics (same minimum element <=> equal value) survive.
    vals[~empty] = mix64(vals[~empty])
    # a row without shingles has no bin to borrow from and would never leave
    # the loop below; shingle_hashes never yields one, but stay total
    no_sh = starts[1:] == starts[:-1]
    if no_sh.any():
        vals[no_sh] = mix64(np.arange(n, dtype=U64) + U64(seed & 0xFFFF))
        empty[no_sh] = False
    out = vals.copy()
    remaining = empty
    shift = 1
    while remaining.any():
        rolled = np.roll(vals, -shift, axis=1)
        take = remaining & (rolled != MAXV)
        off = U64((shift * int(_GOLDEN)) & 0xFFFFFFFFFFFFFFFF)
        out[take] = mix64(rolled[take] ^ off)
        remaining &= ~take
        shift += 1
    return out


def simhash64_batch(values: np.ndarray, starts: np.ndarray,
                    chunk_docs: int = 4096) -> np.ndarray:
    """Charikar 64-bit SimHash over each (unweighted) shingle set —
    uint64[n_docs]; bit j is 1 iff sum over features of (2*bit_j - 1) > 0.

    One little-endian ``np.unpackbits`` pass per chunk of documents, then
    per-document bit-plane sums over views of it. ``np.add.reduceat``
    segment sums stalled 18-26 s on the first large call in every forked
    Spark worker; the per-document ``ndarray.sum`` costs ~3 us/doc."""
    d = starts.size - 1
    out = np.zeros(d, dtype=U64)
    weights = np.uint64(1) << np.arange(64, dtype=U64)
    for lo in range(0, d, chunk_docs):
        hi = min(lo + chunk_docs, d)
        seg = np.ascontiguousarray(values[starts[lo]:starts[hi]])
        bits = np.unpackbits(seg.view(np.uint8).reshape(-1, 8),
                             axis=1, bitorder="little")
        rel = (starts[lo:hi + 1] - starts[lo]).astype(np.int64)
        acc = np.empty((hi - lo, 64), dtype=np.int64)
        for j in range(hi - lo):
            bits[rel[j]:rel[j + 1]].sum(axis=0, dtype=np.int64,
                                        out=acc[j])
        m = np.diff(starts[lo:hi + 1]).astype(np.int64)
        signs = (2 * acc - m[:, None]) > 0     # sum(2b-1) = 2*sum(b) - m
        out[lo:hi] = (signs * weights[None, :]).sum(axis=1, dtype=U64)
    return out


def band_keys_batch(sig: np.ndarray, bands: int, rows: int,
                    seed: int) -> np.ndarray:
    """LSH band keys over a uint64[(n_docs, n)] signature matrix —
    uint64[(n_docs, bands)]. Key b starts at a per-band seed and folds in
    each of its r signature values: key = mix64(key ^ v)."""
    sig3 = sig.reshape(sig.shape[0], bands, rows)
    keys = np.broadcast_to(hash_seeds(bands, seed ^ 0x5CA1AB1E),
                           (sig.shape[0], bands)).copy()
    for j in range(rows):
        keys = mix64(keys ^ sig3[:, :, j])
    return keys


def pack_bbit_batch(mh: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """b-bit MinHash sketch (b=2, Li & Koenig '10) per document: the low 2
    bits of the first m (<=64) minhash values packed into two int64 words —
    slot i occupies bits 2(i%32), 2(i%32)+1 of word i//32. Unused slots are zero
    (callers mask them out of comparisons). Returns (lo, hi) int64[n_docs]
    (Spark LongType is signed; the bit pattern is kept)."""
    m = min(m, 64, mh.shape[1])
    shifts = U64(2) * (np.arange(m, dtype=U64) % U64(32))
    packed = (mh[:, :m] & U64(3)) << shifts[None, :]
    lo = packed[:, :32].sum(axis=1, dtype=U64)
    hi = packed[:, 32:].sum(axis=1, dtype=U64)
    return lo.view(np.int64), hi.view(np.int64)
