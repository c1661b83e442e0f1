"""Frozen single-node reference oracle (SURVEY.md §0, §5.1).

The reference checkout (`/root/reference`, liujie8/nise) is an empty directory
in this sandbox, so THIS module is the reference implementation the pipeline's
cluster assignments are measured against (dup-pair recall >= 0.99 at identical
config, per BASELINE.json). It reimplements the published algorithms —
k-shingling + polynomial hashing, MinHash (Broder '97), 64-bit SimHash
(Charikar '02), LSH banding, exact Jaccard / Hamming / longest-common-substring
verification, and union-find clustering — in plain Python ints, INDEPENDENTLY
of nise_dedup.hashing (which is NumPy-vectorized). Tests assert bit-identical
signatures between the two, which is what makes recall-vs-oracle meaningful.

Pure Python + stdlib. No Spark, no NumPy. Deliberately simple and slow.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

MASK64 = (1 << 64) - 1
_M1 = 0xBF58476D1CE4E5B9
_M2 = 0x94D049BB133111EB
_POLY_BASE = 0x100000001B3
_GOLDEN = 0x9E3779B97F4A7C15


def normalize_text(s: str, mode: str) -> str:
    """Independent reimplementation of nise_dedup.hashing.normalize_text."""
    if mode == "none":
        return s
    if mode == "ws":
        out = []
        for ln in s.split("\n"):
            r = ln.rstrip()
            if r:
                out.append(r)
        return "\n".join(out)
    raise ValueError(mode)


def mix64(x: int) -> int:
    x &= MASK64
    x = ((x ^ (x >> 30)) * _M1) & MASK64
    x = ((x ^ (x >> 27)) * _M2) & MASK64
    return (x ^ (x >> 31)) & MASK64


def hash_seeds(n: int, seed: int) -> list[int]:
    return [mix64((seed + i * _GOLDEN) & MASK64) for i in range(n)]


def shingle_hashes(content: bytes, k: int) -> list[int]:
    """Sorted distinct hashes of char k-grams; <k-byte docs -> one whole-doc
    shingle. Window value = sum_j byte[j] * B^j mod 2^64 (independent
    reimplementation of nise_dedup.hashing.shingle_hashes)."""
    b = content if content else b"\x00"
    windows = [b] if len(b) < k else [b[i:i + k] for i in range(len(b) - k + 1)]
    out = set()
    for w in windows:
        h = 0
        for byte in reversed(w):
            h = (h * _POLY_BASE + byte) & MASK64
        out.add(mix64(h))
    return sorted(out)


def minhash(shingles: list[int], seeds: list[int]) -> list[int]:
    return [min(mix64(x ^ s) for x in shingles) for s in seeds]


def minhash_oph(shingles: list[int], n: int, seed: int) -> list[int]:
    """Independent reimplementation of nise_dedup.hashing.minhash_oph_batch:
    one-permutation hashing, bin = h mod n, circular right-borrow
    densification remixed with the borrow distance."""
    vals: list = [None] * n
    for x in shingles:
        h = mix64((x ^ (seed & MASK64) ^ _GOLDEN) & MASK64)
        b = h % n
        if vals[b] is None or h < vals[b]:
            vals[b] = h
    # remix filled minima (raw minima leak the bin index in their low bits;
    # see nise_dedup.hashing.minhash_oph_batch)
    vals = [mix64(v) if v is not None else None for v in vals]
    out = []
    for i in range(n):
        if vals[i] is not None:
            out.append(vals[i])
            continue
        j = 1
        while vals[(i + j) % n] is None:
            j += 1
        out.append(mix64(vals[(i + j) % n] ^ ((j * _GOLDEN) & MASK64)))
    return out


def simhash64(shingles: list[int]) -> int:
    acc = [0] * 64
    for x in shingles:
        for j in range(64):
            acc[j] += 1 if (x >> j) & 1 else -1
    fp = 0
    for j in range(64):
        if acc[j] > 0:
            fp |= 1 << j
    return fp


def band_keys(sig: list[int], bands: int, rows: int, seed: int) -> list[int]:
    keys = hash_seeds(bands, (seed ^ 0x5CA1AB1E) & MASK64)
    out = []
    for i in range(bands):
        k = keys[i]
        for j in range(rows):
            k = mix64(k ^ sig[i * rows + j])
        out.append(k)
    return out


def jaccard(a: list[int], b: list[int]) -> float:
    sa, sb = set(a), set(b)
    u = len(sa | sb)
    return (len(sa & sb) / u) if u else 1.0


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & MASK64).count("1")


def longest_common_substring(a: bytes, b: bytes) -> int:
    """Exact LCS length in BYTES via a suffix automaton of ``a``
    (O(|a|+|b|)). Frozen semantics: UTF-8 bytes, matching nise_dedup.suffix."""
    if not a or not b:
        return 0
    # suffix automaton (Blumer et al.) — states: link, len, transitions
    sa_len = [0]
    sa_link = [-1]
    sa_next: list[dict[int, int]] = [{}]
    last = 0
    for ch in a:
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        sa_next.append({})
        p = last
        while p != -1 and ch not in sa_next[p]:
            sa_next[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = sa_next[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                sa_next.append(dict(sa_next[q]))
                while p != -1 and sa_next[p].get(ch) == q:
                    sa_next[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    best = cur_len = 0
    v = 0
    for ch in b:
        while v != 0 and ch not in sa_next[v]:
            v = sa_link[v]
            cur_len = sa_len[v]
        if ch in sa_next[v]:
            v = sa_next[v][ch]
            cur_len += 1
            best = max(best, cur_len)
    return best


class UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = p = self.parent.setdefault(p, p)
            x, p = p, self.parent[p]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic: smaller root wins (matches C2 min-canonicalization)
            lo, hi = (ra, rb) if ra <= rb else (rb, ra)
            self.parent[hi] = lo

    def components(self) -> dict:
        return {x: self.find(x) for x in list(self.parent)}


@dataclass
class OracleResult:
    clusters: dict            # key -> cluster root key (min member)
    verified_pairs: list      # [(key_a, key_b, jaccard, hamming, lcs_len, passed)]
    cand_pairs: set           # {(key_a, key_b)} with a < b
    signatures: dict          # key -> (shingles, minhash, simhash)


def run_oracle(rows: list[dict], cfg, fast_signatures: bool = False) -> OracleResult:
    """End-to-end reference dedup over rows with keys (repo, path, commit)
    and a ``content`` string. ``cfg`` is a nise_dedup.config.DedupConfig.

    ``fast_signatures=True`` computes signatures with the NumPy primitives
    in nise_dedup.hashing (proven bit-identical to this module's pure-Python
    ones by tests/test_hashing.py) so corpus-level recall tests can run at
    the 5k-file 'small' size; the LSH / verification / union-find logic —
    the part that differs structurally from the Spark pipeline — stays pure
    Python either way.
    """
    seeds = hash_seeds(cfg.num_perm, cfg.seed)
    if fast_signatures:
        import numpy as np

        from nise_dedup import hashing as H
        np_seeds = H.hash_seeds(cfg.num_perm, cfg.seed)

        def signature_of(text: str):
            sh = H.shingle_hashes(
                H.normalize_text(text, cfg.normalize).encode("utf-8"),
                cfg.shingle_k)
            starts = np.array([0, sh.size])      # a one-document batch
            if cfg.minhash_scheme == "kperm":
                mh = H.minhash(sh, np_seeds)
            else:
                mh = H.minhash_oph_batch(sh, starts, cfg.num_perm,
                                         cfg.seed)[0]
            sim = int(H.simhash64_batch(sh, starts)[0])
            bk = [int(x) for x in H.band_keys_batch(
                mh[None, :], cfg.bands, cfg.rows, cfg.seed)[0]]
            return [int(x) for x in sh], [int(x) for x in mh], sim, bk
    else:
        def signature_of(text: str):
            sh = shingle_hashes(
                normalize_text(text, cfg.normalize).encode("utf-8"),
                cfg.shingle_k)
            if cfg.minhash_scheme == "kperm":
                mh = minhash(sh, seeds)
            else:
                mh = minhash_oph(sh, cfg.num_perm, cfg.seed)
            return sh, mh, simhash64(sh), band_keys(mh, cfg.bands,
                                                    cfg.rows, cfg.seed)
    keys, contents = [], {}
    for r in rows:
        key = (r["repo"], r["path"], r["commit"])
        keys.append(key)
        contents[key] = r["content"]

    # exact-dup collapse on content (R3): near-dup stages run on uniques
    by_content: dict[str, list] = defaultdict(list)
    for key in keys:
        by_content[contents[key]].append(key)
    reps = {min(v): v for v in by_content.values()}

    sigs = {}
    buckets: dict[tuple[int, int], list] = defaultdict(list)
    for key in sorted(reps):
        sh, mh, sim, bks = signature_of(contents[key])
        sigs[key] = (sh, mh, sim)
        for band_id, bk in enumerate(bks):
            buckets[(band_id, bk)].append(key)

    cand = set()
    for members in buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))

    uf = UnionFind()
    for key in reps:
        uf.find(key)
    verified = []
    for a, b in sorted(cand):
        sha, mha, sim_a = sigs[a]
        shb, mhb, sim_b = sigs[b]
        # cascade identical to nise_dedup.verify (see DedupConfig):
        # 2-bit b-bit minhash agreement over the first est_components
        # values, corrected for random 2-bit collisions
        m = min(cfg.est_components, cfg.num_perm)
        matches = sum(1 for x, y in zip(mha[:m], mhb[:m])
                      if (x & 3) == (y & 3))
        est = (matches / m - 0.25) / 0.75
        h = hamming(sim_a, sim_b)
        fast_pass = h <= cfg.tau_hamming or est >= cfg.est_accept
        j = -1.0
        if not fast_pass and est >= cfg.est_exact_gate:
            j = jaccard(sha, shb)
        passed = fast_pass or j >= cfg.tau_jaccard
        lcs_len = -1
        if not passed and cfg.lcs_enabled and est >= cfg.tau_lcs_gate:
            ca = normalize_text(contents[a], cfg.normalize).encode("utf-8")
            cb = normalize_text(contents[b], cfg.normalize).encode("utf-8")
            if min(len(ca), len(cb)) >= cfg.tau_lcs_min_bytes:
                # (skip when LCS <= min_len can never clear the floor —
                # same sound shortcut as the pipeline; passed stays False)
                lcs_len = longest_common_substring(ca, cb)
                passed = lcs_len >= max(
                    cfg.tau_lcs_min_bytes,
                    cfg.tau_lcs_ratio * min(len(ca), len(cb)))
        verified.append((a, b, j, h, lcs_len, passed))
        if passed:
            uf.union(a, b)

    # expand back through exact-dup groups
    comp = uf.components()
    clusters = {}
    for rep, group in reps.items():
        root = comp.get(rep, rep)
        for member in group:
            clusters[member] = root
    return OracleResult(clusters=clusters, verified_pairs=verified,
                        cand_pairs=cand, signatures=sigs)


def dup_pairs(clusters: dict) -> set:
    """All within-cluster unordered pairs (the recall denominator, C3)."""
    groups: dict = defaultdict(list)
    for k, c in clusters.items():
        groups[c].append(k)
    out = set()
    for members in groups.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out
