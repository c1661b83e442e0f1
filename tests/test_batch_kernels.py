"""Batch signature kernels vs the frozen oracle (tests/oracle.py).

The vectorized-across-documents kernels (hashing.shingle_sets_batch /
minhash_oph_batch / simhash64_batch / band_keys_batch / pack_bbit_batch)
must be BIT-identical to the oracle's plain-Python formulas for every edge
case the corpus can produce: empty documents, documents shorter than /
exactly k, unicode, repeated content, and large documents (the chunked
simhash path).
"""

from __future__ import annotations

import numpy as np
import pytest

from nise_dedup import hashing as H

import oracle as O

K = 9
SEED = 42
CASES = [
    "",                                   # empty -> single zero-byte window
    "a",                                  # shorter than k
    "abcdefgh",                           # k-1
    "abcdefghi",                          # exactly k -> one window
    "abcdefghij",                         # k+1
    "the quick brown fox jumps over the lazy dog " * 8,
    "x" * 500,                            # degenerate repeats -> 1 shingle
    "naïve café déjà vu " * 10,           # multibyte UTF-8
    "\n".join(f"line {i} body" for i in range(40)),
    "z" * 8 + "q",                        # k with distinct tail
]


def _raws():
    return [s.encode("utf-8") for s in CASES] + [
        ("big " * 20000).encode("utf-8")]  # 80 KB doc


def _u64s(row) -> list[int]:
    return [int(x) for x in row]


def _batch():
    """The kernels' (values, starts) over _raws(), plus the oracle's
    shingle sets as Python ints."""
    raws = _raws()
    values, starts = H.shingle_sets_batch(raws, K)
    return values, starts, [O.shingle_hashes(r, K) for r in raws]


def test_shingle_sets_batch_matches_oracle():
    values, starts, want = _batch()
    assert starts[0] == 0 and starts[-1] == values.size
    assert values.dtype == np.uint64
    for i, sh in enumerate(want):
        got = values[starts[i]:starts[i + 1]]
        assert _u64s(got) == sh, f"doc {i} shingles diverge"


@pytest.mark.parametrize("n", [16, 125])
def test_minhash_oph_batch_matches_oracle(n):
    values, starts, want = _batch()
    mh = H.minhash_oph_batch(values, starts, n, seed=SEED)
    for i, sh in enumerate(want):
        assert _u64s(mh[i]) == O.minhash_oph(sh, n, SEED), \
            f"doc {i} minhash diverges"


def test_minhash_oph_batch_empty_row_stays_total():
    """A row with no shingles has no bin to borrow from; it gets the fixed
    fallback mix64(i + (seed & 0xFFFF)) and leaves its neighbours alone."""
    a = H.shingle_hashes(CASES[5].encode(), K)
    b = H.shingle_hashes(CASES[8].encode(), K)
    values = np.concatenate([a, b])
    starts = np.array([0, a.size, a.size, a.size + b.size])
    n, seed = 16, 0x1234567                # seed & 0xFFFF != seed
    mh = H.minhash_oph_batch(values, starts, n, seed=seed)
    assert mh.shape == (3, n)
    assert _u64s(mh[0]) == O.minhash_oph(_u64s(a), n, seed)
    assert _u64s(mh[1]) == [O.mix64(i + 0x4567) for i in range(n)]
    assert _u64s(mh[2]) == O.minhash_oph(_u64s(b), n, seed)


def test_simhash_band_keys_batch_match_oracle():
    values, starts, want = _batch()
    sim = H.simhash64_batch(values, starts, chunk_docs=3)  # force chunking
    mh = H.minhash_oph_batch(values, starts, 125, seed=SEED)
    bk = H.band_keys_batch(mh, 25, 5, seed=SEED)
    for i, sh in enumerate(want):
        assert int(sim[i]) == O.simhash64(sh), f"doc {i} simhash"
        assert _u64s(bk[i]) == O.band_keys(_u64s(mh[i]), 25, 5, SEED), \
            f"doc {i} band keys"


@pytest.mark.parametrize("width", [16, 125])   # m <= 32 and m > 32
def test_pack_bbit_batch_packs_low_two_bits(width):
    values, starts, _ = _batch()
    mh = H.minhash_oph_batch(values, starts, 125, seed=SEED)[:, :width]
    lo, hi = H.pack_bbit_batch(mh, 64)
    for i in range(mh.shape[0]):
        v = _u64s(mh[i])
        want_lo = sum((x & 3) << (2 * j) for j, x in enumerate(v[:32]))
        want_hi = sum((x & 3) << (2 * j) for j, x in enumerate(v[32:64]))
        assert (int(lo[i]) & O.MASK64, int(hi[i]) & O.MASK64) == \
            (want_lo, want_hi), f"doc {i} b-bit pack"


def test_compute_signatures_keep_minhash_false(spark):
    from nise_dedup.config import DedupConfig
    from nise_dedup.signatures import compute_signatures

    cfg = DedupConfig(num_perm=16, bands=4, rows=4)
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CASES)], "file_id long, content string")
    full = {r["file_id"]: r for r in
            compute_signatures(df, cfg).collect()}
    pruned = compute_signatures(df, cfg, keep_minhash=False)
    assert "minhash" not in pruned.columns
    for r in pruned.collect():
        f = full[r["file_id"]]
        for c in ("n_shingles", "n_bytes", "simhash", "mhb_lo", "mhb_hi",
                  "band_keys"):
            assert r[c] == f[c], f"{c} diverges for file {r['file_id']}"
