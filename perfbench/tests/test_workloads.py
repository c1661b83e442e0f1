"""The workload generators: deterministic, and hot_buckets shaped so that
its buckets salt and its license-style pairs fail verification."""

from collections import Counter

import workloads as W
from nise_dedup.config import DedupConfig
from nise_dedup.hashing import normalize_text, shingle_hashes


def _fingerprint(rows):
    return [(r.repo, r.path, r.commit, r.lang, r.content, r.gt_cluster)
            for r in rows]


def test_same_seed_same_bytes():
    assert _fingerprint(W.hot_buckets(3)) == _fingerprint(W.hot_buckets(3))
    assert _fingerprint(W.hot_buckets(3)) != _fingerprint(W.hot_buckets(4))
    assert _fingerprint(W.planted(3)) == _fingerprint(W.planted(3))


def test_family_sizes_in_stated_ranges():
    cap = DedupConfig().bucket_cap
    for seed in (1, 2, 3):
        rows = W.hot_buckets(seed)
        near = Counter(r.gt_cluster for r in rows
                       if r.dup_class.startswith("near"))
        ws = Counter(r.gt_cluster for r in rows if r.dup_class == "near_ws")
        assert list(near) == [W.HOT_CLUSTER]
        assert W.NEAR_SIZE[0] <= near[W.HOT_CLUSTER] <= W.NEAR_SIZE[1]
        # whitespace-churn members alone overflow one bucket
        assert ws[W.HOT_CLUSTER] > cap
        lic = [r for r in rows if r.dup_class == "license_hot"]
        assert W.LICENSE_SIZE[0] <= len(lic) <= W.LICENSE_SIZE[1]
        assert len({r.content for r in lic}) == len(lic)
        assert all(r.gt_cluster == -1 for r in lic)
        keys = [(r.repo, r.path, r.commit) for r in rows]
        assert len(set(keys)) == len(keys)


def test_planted_parts_keep_families_apart():
    rows = W.planted(5)
    keys = [(r.repo, r.path, r.commit) for r in rows]
    assert len(set(keys)) == len(keys)
    # the skew stubs of both parts are one family; other families per part
    assert len({r.gt_cluster for r in rows if r.dup_class == "skew"}) == 1
    fams = {}
    for r in rows:
        if r.gt_cluster > 0 and r.dup_class != "skew":
            fams.setdefault(r.gt_cluster, set()).add(r.dup_class)
    assert all(len(c) == 1 for c in fams.values())


def test_license_header_under_lcs_floor_and_pairs_fail():
    cfg = DedupConfig()
    assert len(W.HEADER.encode()) < cfg.tau_lcs_min_bytes
    lic = [r.content for r in W.hot_buckets(1)
           if r.dup_class == "license_hot"][:120]
    assert all(c.startswith(W.HEADER) for c in lic)
    sets = [set(shingle_hashes(normalize_text(c, cfg.normalize).encode(),
                               cfg.shingle_k).tolist()) for c in lic]
    worst = max(len(a & b) / len(a | b)
                for i, a in enumerate(sets) for b in sets[i + 1:])
    assert worst < cfg.tau_jaccard
