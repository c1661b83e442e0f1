"""Bit-identical agreement between the NumPy pipeline primitives
(nise_dedup.hashing) and the independent plain-Python oracle (tests/oracle.py)
— the foundation of 'identical shingle/band/row signature configuration'."""

from __future__ import annotations

import random

import numpy as np
import pytest

from nise_dedup import hashing as H

import oracle as O


def u64(x):
    return int(np.uint64(x))


def _row(sh):
    """One document as a (values, starts) batch for the batch kernels."""
    return sh, np.array([0, sh.size])


@pytest.mark.parametrize("seed", [0, 1, 42, 2**63, 2**64 - 1])
def test_mix64_matches(seed):
    xs = [0, 1, 7, 12345678901234567, 2**64 - 1, seed]
    got = H.mix64(np.array(xs, dtype=np.uint64))
    want = [O.mix64(x) for x in xs]
    assert [u64(g) for g in got] == want


def test_hash_seeds_match():
    got = H.hash_seeds(16, 42)
    want = O.hash_seeds(16, 42)
    assert [u64(g) for g in got] == want


@pytest.mark.parametrize("text,k", [
    ("", 9), ("a", 9), ("abcdefgh", 9), ("abcdefghi", 9),
    ("the quick brown fox jumps over the lazy dog", 9),
    ("aaaaaaaaaaaaaaaa", 4), ("def f(x):\n    return x\n", 5),
    ("日本語テキスト with unicode ±∞", 9),
])
def test_shingles_match(text, k):
    got = H.shingle_hashes(text.encode("utf-8"), k)
    want = O.shingle_hashes(text.encode("utf-8"), k)
    assert [u64(g) for g in got] == want


def test_minhash_simhash_bands_match():
    rng = random.Random(7)
    seeds_np = H.hash_seeds(32, 42)
    seeds_py = O.hash_seeds(32, 42)
    for _ in range(10):
        text = "".join(rng.choice("abcdef \n(){}=") for _ in range(rng.randint(1, 400)))
        sh_np = H.shingle_hashes(text.encode(), 9)
        sh_py = O.shingle_hashes(text.encode(), 9)
        assert [u64(x) for x in sh_np] == sh_py
        mh_np = H.minhash(sh_np, seeds_np)
        mh_py = O.minhash(sh_py, seeds_py)
        assert [u64(x) for x in mh_np] == mh_py
        assert u64(H.simhash64_batch(*_row(sh_np))[0]) == O.simhash64(sh_py)
        bk_np = H.band_keys_batch(mh_np[None, :], 8, 4, 42)[0]
        bk_py = O.band_keys(mh_py, 8, 4, 42)
        assert [u64(x) for x in bk_np] == bk_py


def test_minhash_oph_matches_oracle():
    rng = random.Random(21)
    for trial in range(12):
        text = "".join(rng.choice("abcdefg \n{}()=") for _ in range(rng.randint(1, 600)))
        sh_np = H.shingle_hashes(text.encode(), 9)
        sh_py = [u64(x) for x in sh_np]
        for n in (8, 25, 125):
            got = H.minhash_oph_batch(*_row(sh_np), n, 42)[0]
            want = O.minhash_oph(sh_py, n, 42)
            assert [u64(g) for g in got] == want, (trial, n)


def test_minhash_oph_estimates_jaccard():
    base = [f"token{i} " for i in range(300)]
    a = "".join(base)
    b = "".join(base[:210] + [f"other{i} " for i in range(90)])
    sa = H.shingle_hashes(a.encode(), 9)
    sb = H.shingle_hashes(b.encode(), 9)
    true_j = len(np.intersect1d(sa, sb)) / len(np.union1d(sa, sb))
    ma = H.minhash_oph_batch(*_row(sa), 256, 42)[0]
    mb = H.minhash_oph_batch(*_row(sb), 256, 42)[0]
    est = (ma == mb).mean()
    assert abs(est - true_j) < 0.12


def test_simhash_vectorized_matches_oracle_bitloop():
    rng = random.Random(33)
    for _ in range(8):
        sh = H.shingle_hashes(
            bytes(rng.randrange(256) for _ in range(rng.randint(1, 500))), 7)
        assert u64(H.simhash64_batch(*_row(sh))[0]) == \
            O.simhash64([u64(x) for x in sh])


def test_minhash_chunking_invariant():
    sh = H.shingle_hashes(b"x" * 5000 + bytes(range(256)) * 40, 9)
    seeds = H.hash_seeds(16, 1)
    a = H.minhash(sh, seeds, chunk=8)
    b = H.minhash(sh, seeds, chunk=1 << 20)
    assert (a == b).all()


def test_minhash_similarity_estimates_jaccard():
    # two 80%-overlapping shingle sets -> signature agreement ~ jaccard
    base = [f"token{i} " for i in range(200)]
    a = "".join(base)
    b = "".join(base[:160] + [f"other{i} " for i in range(40)])
    sa = H.shingle_hashes(a.encode(), 9)
    sb = H.shingle_hashes(b.encode(), 9)
    true_j = len(np.intersect1d(sa, sb)) / len(np.union1d(sa, sb))
    seeds = H.hash_seeds(256, 42)
    ma, mb = H.minhash(sa, seeds), H.minhash(sb, seeds)
    est = (ma == mb).mean()
    assert abs(est - true_j) < 0.12
