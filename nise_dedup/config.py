"""Pipeline configuration (SURVEY.md §3.1 step 1).

Every knob that affects output lives here so that ``config_hash`` uniquely
identifies a run's semantics — resumability (SURVEY §2 F5) refuses to reuse a
stage checkpoint written under a different hash, and the frozen oracle
(tests/oracle.py) is parameterized by the same dataclass so "identical
shingle/band/row signature configuration" (BASELINE.json north_rule) is
enforced by construction.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- signature stage (SURVEY §2.3) ---
    shingle_k: int = 9           # char k-gram width; 9 is a common choice for code
    num_perm: int = 125          # MinHash signature length n = bands * rows
    bands: int = 25              # LSH bands b
    rows: int = 5                # rows per band r; (1/25)^(1/5) ~= 0.52
                                 # threshold: P(candidate)=99% at J=0.7,
                                 # 87% at J=0.6 (block class), but only 2.4%
                                 # at the J~0.25 boilerplate noise floor —
                                 # r=4 admitted 12% of that mass and the
                                 # candidate set blew up ~5x at 50k files
    minhash_scheme: str = "oph1"  # "oph1": one-permutation hashing with
                                  # circular densification (O(m) per doc vs
                                  # O(m*n) classic); "kperm": classic
    seed: int = 42               # master seed for all hash families

    # --- verification thresholds (SURVEY §2.5, frozen cascade policy V4) ---
    # est — b-bit MinHash agreement (Li & Koenig '10): the low 2 bits of
    #   each of the first est_components minhash values, packed into two
    #   64-bit sketches per doc. With matches = #equal 2-bit slots,
    #       est = (matches/est_components - 1/4) / (3/4)
    #   (unequal minhash values collide on 2 bits w.p. 1/4; the correction
    #   makes est an unbiased J estimate). Pure XOR+popcount per pair —
    #   whole-stage-codegen, 16 bytes per side.
    # ham = popcount(simhash_a XOR simhash_b)        (cheap: 8 B per side)
    # Deep verification (exact Jaccard over shingle sets recomputed from
    # content + suffix-array LCS) joins CONTENT only for pairs that clear
    # the est gates — cost scales with true-dup density, not LSH noise.
    #
    # passed = (ham <= tau_hamming)
    #        | (est >= est_accept)                      # near-certain pass
    #        | (est >= est_exact_gate  &  J >= tau_jaccard)
    #        | (not passed above  &  est >= tau_lcs_gate
    #           &  lcs_len >= max(tau_lcs_min_bytes,
    #                             tau_lcs_ratio * min(len_a, len_b)))
    #
    # sigma(est) ~= sqrt(p(1-p)/64)/0.75 ~= 0.08: a true J >= 0.7 pair
    # fails est >= 0.45 with prob ~Phi(-3) ~= 0.1% — and the oracle
    # (tests/oracle.py) implements the IDENTICAL cascade, so cluster parity
    # stays exact, not probabilistic.
    tau_jaccard: float = 0.70    # exact shingle-set Jaccard
    est_components: int = 64     # minhash prefix length used for est
    est_accept: float = 0.90     # est this high passes WITHOUT exact J
                                 # (P(true J < 0.7 | est >= 0.9) ~= Phi(-2.5);
                                 # skips the deep join for the most common
                                 # case — barely-mutated near-dups)
    est_exact_gate: float = 0.45  # corrected est needed to compute exact J
    tau_hamming: int = 3         # SimHash 64-bit Hamming distance (Manku '07)
    tau_lcs_gate: float = 0.35   # run the LCS path when est >= gate
                                 # (a >=60%-of-both-files block implies shingle
                                 # J >= ~0.43, so 0.35 keeps margin while
                                 # skipping the weak-candidate mass)
    tau_lcs_ratio: float = 0.60  # LCS length >= ratio * min(len_a, len_b)
    tau_lcs_min_bytes: int = 512  # absolute floor: shared boilerplate headers
                                  # (license blocks etc.) must not LCS-merge
                                  # short files — the precision guard for the
                                  # `license` negative class in FIXTURES.md §B
    lcs_enabled: bool = True
    lcs_exact_lengths: bool = False  # True: run the O(n log^2 n) suffix
                                     # array on passing pairs to report exact
                                     # lcs_len (tests/diagnostics). False:
                                     # the exact O(n) threshold decision
                                     # alone determines `passed`; lcs_len
                                     # reports the verified threshold.
                                     # `passed` is IDENTICAL either way.

    # --- skew discipline (SURVEY §2.4 L2) ---
    bucket_cap: int = 256        # max members per (band, key) bucket before salting
    max_bucket: int = 100_000    # hard cap: buckets larger than this are degenerate
                                 # (empty/boilerplate); dropped WITH a metrics row
    rep_k: int = 2               # cross-salt representatives per sub-bucket
                                 # (lsh.cross_rep_pairs): >1 so one failed
                                 # rep-pair verification cannot silently
                                 # disconnect dups split across salts
    escalate_failed_rep_pairs: bool = True
                                 # remediation when even rep_k^2 chances all
                                 # fail (VERDICT r4 next #7): salted buckets
                                 # where NO rep pair passed verification get
                                 # their full cross-salt member pairs
                                 # emitted as a second candidate wave
                                 # through the SAME frozen cascade — the
                                 # only way a true dup split across salts of
                                 # a heterogeneous capped bucket can still
                                 # connect. Parity-safe toward the oracle
                                 # (whose candidate set is the uncapped
                                 # bucket all-pairs superset). SEMANTIC —
                                 # in config_hash.
    escalate_max_members: int = 512
                                 # escalation bound: buckets larger than
                                 # this skip the member-pair wave (cost
                                 # ~cnt^2/2 pairs through the est sketch
                                 # join) and are reported in metrics —
                                 # never silently (SURVEY §7.3 rule).
                                 # 512 = 2x bucket_cap: covers the marginal
                                 # salting regime (nsplits=2, where a split
                                 # dup pair is most likely and the wave is
                                 # <=131k pairs/bucket) while skipping
                                 # boilerplate-dominated hot buckets whose
                                 # cross pairs are overwhelmingly non-dups
                                 # (measured: 4096 admitted ~1M pairs on
                                 # the 200k bench corpus, ~60s of wave-2
                                 # work for zero recovered dups)
    escalate_max_pairs: int = 5_000_000
                                 # coarse BACKSTOP: total member-pair
                                 # budget for the wave per run, spent
                                 # cost-ASCENDING over failed salt pairs
                                 # (cost = m_lo*m_hi cross-salt member
                                 # product), skips accounted in
                                 # escalation_diag n_skipped_budget
                                 # (SURVEY §7.3 no-silent-caps). Sized so
                                 # it NEVER binds at bench scale (the 1M
                                 # corpus wave is 1.39M member pairs) —
                                 # the SKETCH stage of the wave is cheap
                                 # (16-byte est join, ~4 s for 12M pairs
                                 # at local[8]); the expensive stage is
                                 # bounded separately and with better
                                 # evidence by escalate_deep_budget. A
                                 # tighter cost-ascending member budget
                                 # was measured WRONG on the 1M corpus:
                                 # at 200k it dropped both genuine
                                 # recoveries (they live in LARGE salt
                                 # pairs; small-is-dup-likely was a bad
                                 # heuristic). 0 = unlimited. SEMANTIC —
                                 # in config_hash.
    escalate_deep_budget: int = 50_000
                                 # cap on the wave's DEEP residue (exact
                                 # Jaccard / LCS — the expensive Python
                                 # stage), spent est-DESCENDING so the
                                 # strongest-evidence member pairs verify
                                 # first; fast-pass recoveries (identical
                                 # or near-identical split dups, est >=
                                 # est_accept) cost nothing and are never
                                 # subject to it. Round-5 measurement on
                                 # the 1M corpus: the UNbudgeted wave
                                 # deep-verified ~1.39M member pairs of
                                 # noise buckets (every one of 2,893 rep
                                 # pairs failed) to recover TWO passing
                                 # pairs — +38% run wall at local[8]
                                 # (461 s vs 284 s wave-off, in-window
                                 # paired runs). Dropped deep pairs keep
                                 # their sketch verdicts; the drop count
                                 # surfaces in metrics as
                                 # n_esc_deep_dropped (count_deep_gated).
                                 # 0 = unlimited. SEMANTIC — in
                                 # config_hash.

    # --- execution ---
    arrow_batch_rows: int = 2048  # small batches: `content` can be megabytes
    shuffle_partitions: int = 64
    checkpoint_dir: str = ""      # stage manifests + CC checkpoints; "" = temp
    incremental_buckets: int = 0  # >0 (ckpt mode only): the signature and
                                  # wave-1 verify stages commit per-bucket
                                  # slices (io.run_stage(buckets=)) so a
                                  # killed run resumes at bucket granularity;
                                  # output is byte-identical, so this is
                                  # execution-only

    # --- normalization (SURVEY §2.2 R1) feeding SHINGLING/LCS ONLY; the
    # stored `content` and its sha256 are never mutated (BASELINE invariant).
    # "ws": rstrip each line, drop blank lines, join with \n — makes
    # whitespace-churn duplicates signature-identical. "none": raw bytes.
    normalize: str = "ws"

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.num_perm != self.bands * self.rows:
            raise ValueError(
                f"num_perm ({self.num_perm}) must equal bands*rows "
                f"({self.bands}*{self.rows}={self.bands * self.rows})"
            )
        if self.shingle_k < 1:
            raise ValueError("shingle_k must be >= 1")

    def config_hash(self) -> str:
        """Deterministic hash of every semantic knob (stable key order)."""
        d = asdict(self)
        d.pop("extra", None)
        # execution-only knobs do not change output semantics
        for k in ("arrow_batch_rows", "shuffle_partitions", "checkpoint_dir",
                  "incremental_buckets"):
            d.pop(k, None)
        blob = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
