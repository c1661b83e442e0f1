"""LSH banding L1–L3: pair completeness without salting, connectivity
preservation under aggressive salting, degenerate-bucket drop accounting."""

from __future__ import annotations

from itertools import combinations

from nise_dedup.config import DedupConfig
from nise_dedup.lsh import bucket_metrics, candidate_pairs, explode_bands

import oracle as O


def _bands_df(spark, buckets):
    """buckets: list of (band_id, band_key, [file_ids])."""
    rows = [(fid, band_id, key)
            for band_id, key, fids in buckets for fid in fids]
    return spark.createDataFrame(rows, "file_id long, band_id int, band_key long")


def test_pairs_complete_without_salting(spark):
    cfg = DedupConfig(bucket_cap=100)
    buckets = [(0, 111, [1, 2, 3]), (1, 222, [3, 4]), (2, 333, [9]),
               (3, 444, [2, 3])]
    got = {(r["a"], r["b"])
           for r in candidate_pairs(_bands_df(spark, buckets), cfg).collect()}
    want = {(1, 2), (1, 3), (2, 3), (3, 4)}
    assert got == want


def test_salting_preserves_connectivity(spark):
    cfg = DedupConfig(bucket_cap=4)
    members = list(range(100, 130))
    got = candidate_pairs(_bands_df(spark, [(0, 7, members)]), cfg).collect()
    pairs = [(r["a"], r["b"]) for r in got]
    # far fewer than full pairwise, but one connected component
    assert len(pairs) < len(members) * (len(members) - 1) // 2
    uf = O.UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    roots = {uf.find(m) for m in members}
    assert len(roots) == 1


def test_degenerate_bucket_dropped_and_counted(spark):
    cfg = DedupConfig(bucket_cap=4, max_bucket=10)
    buckets = [(0, 1, list(range(50))),      # degenerate: > max_bucket
               (1, 2, [200, 201])]
    bands = _bands_df(spark, buckets)
    pairs = {(r["a"], r["b"]) for r in candidate_pairs(bands, cfg).collect()}
    assert pairs == {(200, 201)}
    metrics = {r["disposition"]: r for r in bucket_metrics(bands, cfg).collect()}
    assert metrics["dropped_degenerate"]["n_buckets"] == 1
    assert metrics["dropped_degenerate"]["n_members"] == 50
    assert metrics["direct"]["n_buckets"] == 1


def test_multi_rep_recovers_cross_salt_dup(spark):
    """VERDICT r3 next #3: a planted heterogeneous capped bucket where
    single-rep salting loses a dup pair and rep_k=2 recovers it.

    Bucket {75, 35 | 8, 23} under nsplits=2 (salt = pmod(xxhash64(id), 2):
    75,35 -> salt 0; 8,23 -> salt 1 — asserted below, not assumed). The
    hash-rank-1 reps are 75 and 8 (the planted 'license headers', which
    fail verification downstream); the dup pair is (23, 35). With one rep
    per sub-bucket the only cross pair is (8, 75) and (23, 35) never
    meets; with rep_k=2 every member of these size-2 sub-buckets is a rep
    and (23, 35) is emitted."""
    from pyspark.sql import functions as F

    from nise_dedup.lsh import cross_rep_pairs, salted_buckets

    members = [75, 35, 8, 23]
    cfg = DedupConfig(bucket_cap=2)          # 4 members -> nsplits=2
    salted = salted_buckets(_bands_df(spark, [(0, 7, members)]), cfg)
    got = {r["file_id"]: (r["salt"], r["nsplits"]) for r in salted.collect()}
    assert {fid: s for fid, (s, _n) in got.items()} == \
        {75: 0, 35: 0, 8: 1, 23: 1}          # planted split precondition
    assert all(n == 2 for _s, n in got.values())

    single = {(r["a"], r["b"])
              for r in cross_rep_pairs(salted, rep_k=1).collect()}
    multi = {(r["a"], r["b"])
             for r in cross_rep_pairs(salted, rep_k=2).collect()}
    assert single == {(8, 75)}               # dup pair LOST at rep_k=1
    assert (23, 35) in multi                 # ...and RECOVERED at rep_k=2
    # default config flows rep_k=2 through candidate generation
    pairs = {(r["a"], r["b"])
             for r in candidate_pairs(_bands_df(spark, [(0, 7, members)]),
                                      cfg).collect()}
    assert (23, 35) in pairs
    # still bounded: candidates never exceed the bucket's full pairwise set
    assert pairs <= {(a, b) for a, b in combinations(sorted(members), 2)}


def test_explode_bands_shape(spark):
    from nise_dedup.signatures import compute_signatures
    cfg = DedupConfig(num_perm=32, bands=8, rows=4)
    df = spark.createDataFrame([(1, "hello world " * 10)],
                               "file_id long, content string")
    bands = explode_bands(compute_signatures(df, cfg))
    rows = bands.collect()
    assert len(rows) == 8
    assert {r["band_id"] for r in rows} == set(range(8))


def test_identical_docs_share_all_bands(spark):
    from nise_dedup.signatures import compute_signatures
    cfg = DedupConfig(num_perm=32, bands=8, rows=4)
    text = "x = 1\ny = 2\n" * 20
    df = spark.createDataFrame([(1, text), (2, text), (3, "totally different content here")],
                               "file_id long, content string")
    pairs = {(r["a"], r["b"]) for r in candidate_pairs(
        explode_bands(compute_signatures(df, cfg)), cfg).collect()}
    assert (1, 2) in pairs
    assert all(p in {(1, 2)} for p in pairs), pairs


def test_escalation_recovers_pair_rep_k2_loses(spark):
    """VERDICT r4 next #7: when even rep_k^2 cross-salt rep chances ALL
    fail verification, the dup pair split across salts is silently lost —
    escalation must emit the direct member pairs so the SAME cascade can
    recover it.

    Planted bucket {115, 75, 35 | 199, 184, 8} under bucket_cap=3
    (nsplits=2; salt = pmod(xxhash64(id), 2) — asserted, not assumed).
    xxhash64-rank order within salt 0 is 115 < 75 < 35 and within salt 1
    is 199 < 184 < 8, so the rep_k=2 reps are {115, 75} x {199, 184} (the
    planted 'license headers', all four pairs failing verification
    downstream) and the dup pair (8, 35) — both rank 3 — never meets via
    reps. Escalation emits the full 3x3 cross-salt member pairs including
    (8, 35); feeding that pair through the REAL cascade with identical
    content verifies it, which is the remediation's whole point."""
    from pyspark.sql import functions as F

    from nise_dedup.lsh import (cross_rep_pairs, escalation_pairs,
                                escalation_diag, failed_salt_pairs,
                                salted_buckets)

    members = [115, 75, 35, 199, 184, 8]
    cfg = DedupConfig(bucket_cap=3)
    salted = salted_buckets(_bands_df(spark, [(0, 7, members)]), cfg)
    got = {r["file_id"]: r["salt"] for r in salted.collect()}
    assert got == {115: 0, 75: 0, 35: 0, 199: 1, 184: 1, 8: 1}

    reps = {(r["a"], r["b"])
            for r in cross_rep_pairs(salted, rep_k=2).collect()}
    assert (8, 35) not in reps                    # rep_k=2 alone LOSES it
    cross_reps = {(115, 199), (115, 184), (75, 199), (75, 184)}
    assert cross_reps <= reps

    # wave-1 verdicts: every cross-salt rep pair FAILED (heterogeneous
    # bucket — the reps are mutually dissimilar boilerplate)
    verified = spark.createDataFrame(
        [(a, b, False) for a, b in sorted(reps)],
        "a long, b long, passed boolean")

    failed = failed_salt_pairs(salted, verified, cfg.rep_k).collect()
    assert [(r["salt_lo"], r["salt_hi"]) for r in failed] == [(0, 1)]

    esc = {(r["a"], r["b"])
           for r in escalation_pairs(salted, verified, cfg).collect()}
    assert (8, 35) in esc                         # remediation RECOVERS it
    # bounded: only cross-salt member pairs of the failed bucket
    cross_all = {(min(x, y), max(x, y))
                 for x in (115, 75, 35) for y in (199, 184, 8)}
    assert esc == cross_all

    # ...and the recovered pair PASSES the real cascade when the split
    # dups are genuinely identical
    from nise_dedup.signatures import compute_signatures
    from nise_dedup.verify import verify_pairs
    text = "def feature(x):\n    return x * 31 + 7\n" * 30
    uniq = spark.createDataFrame([(8, text), (35, text)],
                                 "file_id long, content string")
    sigs = compute_signatures(uniq, DedupConfig())
    pair = spark.createDataFrame([(8, 35)], "a long, b long")
    out = verify_pairs(pair, sigs, uniq, DedupConfig()).collect()
    assert len(out) == 1 and out[0]["passed"]


def test_escalation_oversize_bucket_skipped_and_counted(spark):
    """No-silent-caps: a failed bucket above escalate_max_members skips the
    cnt^2/2 member-pair wave and is COUNTED in the diagnostics row."""
    from nise_dedup.lsh import (cross_rep_pairs, escalation_pairs,
                                escalation_diag, salted_buckets)

    members = [115, 75, 35, 199, 184, 8]
    cfg = DedupConfig(bucket_cap=3, escalate_max_members=4)
    salted = salted_buckets(_bands_df(spark, [(0, 7, members)]), cfg)
    reps = {(r["a"], r["b"])
            for r in cross_rep_pairs(salted, rep_k=2).collect()}
    verified = spark.createDataFrame(
        [(a, b, False) for a, b in sorted(reps)],
        "a long, b long, passed boolean")
    assert escalation_pairs(salted, verified, cfg).count() == 0
    diag = escalation_diag(salted, verified, cfg).collect()[0]
    assert diag["n_failed_salt_pairs"] == 1
    assert diag["n_skipped_oversize"] == 1
    assert diag["n_skipped_budget"] == 0          # nothing admissible left


def test_escalation_budget_spent_cost_ascending(spark):
    """Run-level escalation BACKSTOP budget (round 5): with two failed
    buckets, escalate_max_pairs admits the cheap salt pair and skips the
    expensive one WITH diag accounting (n_skipped_budget). The backstop is
    sized to never bind at bench scale — the evidence-based cap is
    escalate_deep_budget (test_verify.py::
    test_deep_budget_caps_deep_stage_est_descending); this test pins the
    backstop's mechanics: deterministic cost-ascending spend, no silent
    drops, 0 = unlimited."""
    from nise_dedup.lsh import (cross_rep_pairs, escalation_diag,
                                escalation_pairs, salted_buckets)

    # bucket A: 6 members (3x3 cross pairs = 9 cost); bucket B: 4 members
    # (2x2 = 4 cost). Budget 5 admits only B.
    members_a = [115, 75, 35, 199, 184, 8]
    members_b = [201, 202, 203, 204]
    cfg = DedupConfig(bucket_cap=3, escalate_max_pairs=5)
    salted = salted_buckets(
        _bands_df(spark, [(0, 7, members_a), (1, 9, members_b)]), cfg)
    reps = {(r["a"], r["b"])
            for r in cross_rep_pairs(salted, rep_k=2).collect()}
    verified = spark.createDataFrame(
        [(a, b, False) for a, b in sorted(reps)],
        "a long, b long, passed boolean")

    esc = {(r["a"], r["b"])
           for r in escalation_pairs(salted, verified, cfg).collect()}
    ids_a, ids_b = set(members_a), set(members_b)
    assert esc, "cheap bucket must escalate"
    assert all(a in ids_b and b in ids_b for a, b in esc), esc
    assert not any(a in ids_a or b in ids_a for a, b in esc)

    diag = escalation_diag(salted, verified, cfg).collect()[0]
    assert diag["n_failed_salt_pairs"] == 2
    assert diag["n_skipped_oversize"] == 0
    assert diag["n_skipped_budget"] == 1
    # admitted cost = m_lo * m_hi of bucket B's actual salt split
    # (xxhash64-derived, e.g. 3+1 -> 3), computed not assumed
    from collections import Counter
    split = Counter(r["salt"] for r in salted.collect()
                    if r["file_id"] in ids_b)
    m_lo, m_hi = sorted(split.values())
    assert diag["n_budgeted_pairs"] == m_lo * m_hi
    assert diag["n_budgeted_pairs"] == len(esc)

    # budget 0 = unlimited: both buckets escalate
    cfg_all = DedupConfig(bucket_cap=3, escalate_max_pairs=0)
    esc_all = {(r["a"], r["b"])
               for r in escalation_pairs(salted, verified, cfg_all)
               .collect()}
    assert any(a in ids_a or b in ids_a for a, b in esc_all)
    assert esc <= esc_all


def test_escalation_quiet_when_reps_pass(spark):
    """One passing rep pair per salt pair means NO escalation wave —
    the common case must stay free."""
    from nise_dedup.lsh import escalation_pairs, failed_salt_pairs, \
        salted_buckets

    members = [115, 75, 35, 199, 184, 8]
    cfg = DedupConfig(bucket_cap=3)
    salted = salted_buckets(_bands_df(spark, [(0, 7, members)]), cfg)
    verified = spark.createDataFrame([(115, 199, True)],
                                     "a long, b long, passed boolean")
    assert failed_salt_pairs(salted, verified, cfg.rep_k).count() == 0
    assert escalation_pairs(salted, verified, cfg).count() == 0


def test_costed_failed_cum_is_global_prefix_sum(spark):
    """The escalation budget's running total (one unpartitioned window
    over the failed salt pairs) must equal the GLOBAL prefix sum of cost
    in (cost, band_id, band_key, salt_lo, salt_hi) ascending order — ties
    included — or the budget would admit a different pair set."""
    from nise_dedup.lsh import _costed_failed

    # 120 buckets split 2 ways; member counts vary 2..14 with many ties,
    # so costs span several log2 buckets AND repeat within each.
    rows, fid = [], 0
    for b in range(120):
        m = 2 + (b % 13)
        for salt in (0, 1):
            for _ in range(m):
                rows.append((b % 5, b, salt, fid, 2 * m, 2))
                fid += 1
    salted = spark.createDataFrame(
        rows, "band_id int, band_key long, salt int, file_id long, "
              "cnt long, nsplits int")
    verified = spark.createDataFrame([], "a long, b long, passed boolean")

    got = _costed_failed(salted, verified, DedupConfig()).collect()
    got_sorted = sorted(
        got, key=lambda r: (r["cost"], r["band_id"], r["band_key"],
                            r["salt_lo"], r["salt_hi"]))
    assert len(got_sorted) == 120
    running = 0
    for r in got_sorted:
        running += r["cost"]
        assert r["cum"] == running, (r, running)
