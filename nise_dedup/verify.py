"""Verification cascade V1–V4 (SURVEY §2.5).

Frozen pass policy — see DedupConfig for the exact formula; tests/oracle.py
implements the identical cascade, so cluster parity with the reference
oracle is exact, not probabilistic.

Cost shape (the part that matters at 10^12 files):
- every candidate pair joins only fixed-width metadata: an 8-byte simhash,
  a 256-byte minhash prefix (est_components) and a length — never the full
  shingle sets;
- content bytes move ONLY for the est-gated residue: content joins onto
  the residue's pair rows, and one repartition on `a` spreads the
  CPU-heavy Arrow mapper across cores. When the pair list is
  broadcast-sized, AQE broadcasts it and `uniq` content never shuffles —
  the only content movement is that repartition of the joined rows;
- inside the mapper, exact Jaccard and the LCS check run per pair through
  one cascade closure (`_make_cascade`): an exact O(n) rolling-hash
  threshold decision first, the O(n log^2 n) suffix array only for pairs
  that provably contain a qualifying common substring.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nise_dedup import instrument
from nise_dedup.config import DedupConfig
from nise_dedup.instrument import barrier
from nise_dedup.session import task_width

# verify_pairs' output columns and types (an empty wave is built from it)
VERIFIED_SCHEMA = ("a long, b long, est double, jaccard double, hamming int, "
                   "lcs_len long, passed boolean")

def jaccard_expr(sh_a, sh_b):
    """V1 — exact set Jaccard over array columns, JVM-side (used by oracle
    queries and tests; the pipeline's exact-J runs in the deep mapper)."""
    union = F.size(F.array_union(sh_a, sh_b))
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def hamming_expr(sim_a, sim_b):
    """V2 — SimHash Hamming distance: popcount(a XOR b), JVM-side."""
    return F.bit_count(sim_a.bitwiseXOR(sim_b))


_EVEN_BITS = 0x5555555555555555


def bbit_est_expr(lo_a, hi_a, lo_b, hi_b, m: int):
    """b-bit MinHash agreement estimate (b=2, Li & Koenig '10), corrected
    for random 2-bit collisions: est = (matches/m - 1/4) / (3/4).

    Pure XOR / shift / popcount — whole-stage-codegen (the earlier
    zip_with/filter higher-order-function formulation was interpreted
    per-row and dominated the metadata join). Slot i of each 64-bit word
    holds 2 bits; a slot differs iff either bit differs, counted by masking
    (x | x>>1) to the even bit positions. Arithmetic sign-extension from
    shiftright lands on odd bit 63 and is masked out. Unused slots are zero
    in both words and masked out via the slot-count masks.
    """
    def unequal(a, b, slots):
        if slots <= 0:
            return F.lit(0)
        x = a.bitwiseXOR(b)
        y = (x.bitwiseOR(F.shiftright(x, 1))).bitwiseAND(F.lit(_EVEN_BITS))
        if slots < 32:
            y = y.bitwiseAND(F.lit((1 << (2 * slots)) - 1))
        return F.bit_count(y)

    uneq = (unequal(lo_a, lo_b, min(32, m))
            + unequal(hi_a, hi_b, m - 32))
    matches = F.lit(m) - uneq
    return (matches / F.lit(m) - 0.25) / 0.75


def _make_cascade(cfg: DedupConfig):
    """The per-pair deep cascade (exact Jaccard → LCS decision), built once
    per mapper on the worker.

    ``ea``/``eb`` are mutable ``[norm_bytes, shingles|None]`` entries —
    shingle sets are computed lazily on first need and memoized back into
    the entry, so a participant pays the O(m) shingle pass at most once
    per memo lifetime (the mapper's per-worker file-id memo).

    Returns run(ea, eb, est) -> (jaccard, lcs_len, ok) with jaccard=-1.0 /
    lcs_len=-1 where the cascade never computed them.
    """
    import numpy as np

    from nise_dedup import hashing as H
    from nise_dedup.suffix import longest_common_substring

    k = cfg.shingle_k
    tau_j, exact_gate = cfg.tau_jaccard, cfg.est_exact_gate
    lcs_gate, ratio = cfg.tau_lcs_gate, cfg.tau_lcs_ratio
    floor, lcs_on = cfg.tau_lcs_min_bytes, cfg.lcs_enabled
    exact_lengths = cfg.lcs_exact_lengths

    def shingles_of(e):
        if e[1] is None:
            e[1] = H.shingle_hashes(e[0], k)
        return e[1]

    def grams_of(e, w: int):
        """Memoized sorted-unique w-gram window hashes of a participant's
        normalized bytes + the first-occurrence index of each value.
        Building both tables per PAIR profiled at 69% of the whole cascade
        on the 1M corpus's deep residue (round 6); each participant rides
        ~16 pairs there, so the per-(doc, width) memo amortizes them."""
        if len(e) < 3:
            e.append({})
        g = e[2].get(w)
        if g is None:
            h = H.window_hashes(np.frombuffer(e[0], dtype=np.uint8), w)
            g = np.unique(h, return_index=True)   # (sorted vals, first idx)
            e[2][w] = g
        return g

    def run(ea, eb, est):
        jac, lcs, ok = -1.0, -1, False
        if est >= exact_gate:
            sha, shb = shingles_of(ea), shingles_of(eb)
            inter = np.intersect1d(sha, shb, assume_unique=True).size
            union = sha.size + shb.size - inter
            jac = (inter / union) if union else 1.0
            ok = jac >= tau_j
        ca, cb = ea[0], eb[0]
        if not ok and lcs_on and est >= lcs_gate:
            # the pass rule is lcs_len >= max(floor, ratio*min_len) with a
            # FLOAT rhs (the frozen oracle compares it unfloored), so the
            # integer threshold is the ceiling, not the truncation: int()
            # would accept lcs=614 when ratio*min_len=614.4
            need = int(max(floor,
                           math.ceil(ratio * min(len(ca), len(cb)))))
            if min(len(ca), len(cb)) >= need:
                # exact O(n) decision "LCS >= need" over the memoized
                # need-gram tables: an empty gram intersection proves
                # LCS < need; a hit is byte-verified at the grams'
                # first-occurrence positions; unverifiable collisions
                # (~2^-64) fall back to the exact suffix array.
                # `passed` never needs the true max — the suffix array
                # runs only for diagnostics (lcs_exact_lengths) or that
                # ambiguous-collision case.
                va, fa = grams_of(ea, need)
                vb, fb = grams_of(eb, need)
                _, ia, ib = np.intersect1d(va, vb, assume_unique=True,
                                           return_indices=True)
                if ia.size == 0:
                    hit = False
                else:
                    hit = None
                    for iu, ju in zip(ia, ib):
                        i, j = int(fa[iu]), int(fb[ju])
                        if ca[i:i + need] == cb[j:j + need]:
                            hit = True
                            break
                if hit is not False:
                    if exact_lengths or hit is None:
                        lcs = longest_common_substring(ca, cb)
                        ok = lcs >= need
                    else:
                        lcs = need       # verified lower bound
                        ok = True
        return jac, lcs, ok

    return run


def _deep_mapper_joined(cfg: DedupConfig):
    """Deep verify over content-joined pair rows (see module docstring).

    Input cols: a, b, est, content_a, content_b.
    Output: a, b, jaccard double (-1 if not computed), lcs_len long (-1),
    deep_pass boolean. Per-worker memo caches normalized bytes AND shingle
    sets per file id (pairs are repartitioned by `a`, so hits are
    frequent).
    """
    norm = cfg.normalize

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from nise_dedup import hashing as H

        cascade = _make_cascade(cfg)
        memo: dict[int, list] = {}   # fid -> [norm_bytes, shingles|None]

        def entry(fid: int, s: str):
            e = memo.get(fid)
            if e is None:
                if len(memo) > 2048:
                    memo.clear()
                e = [H.normalize_text(s, norm).encode("utf-8"), None]
                memo[fid] = e
            return e

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            jac = np.full(n, -1.0)
            lcs = np.full(n, -1, dtype=np.int64)
            ok = np.zeros(n, dtype=bool)
            ids_a = pdf["a"].to_numpy()
            ids_b = pdf["b"].to_numpy()
            ests = pdf["est"].to_numpy()
            for i, (sa, sb) in enumerate(zip(pdf["content_a"],
                                             pdf["content_b"])):
                ea = entry(int(ids_a[i]), sa)
                eb = entry(int(ids_b[i]), sb)
                jac[i], lcs[i], ok[i] = cascade(ea, eb, ests[i])
            yield pd.DataFrame({"a": ids_a, "b": ids_b, "jaccard": jac,
                                "lcs_len": lcs, "deep_pass": ok})

    return compute


def _gate_exprs(cfg: DedupConfig):
    """The frozen cascade's routing predicates over a pair-metadata frame
    (est, hamming, len_a, len_b columns): (fast_pass, deep_gate). Shared
    by verify_pairs and the metrics-mode deep-gate accounting so the two
    can never drift."""
    fast_pass = ((F.col("hamming") <= cfg.tau_hamming)
                 | (F.col("est") >= cfg.est_accept))
    deep_gate = ~fast_pass & (
        (F.col("est") >= cfg.est_exact_gate)
        | ((F.col("est") >= cfg.tau_lcs_gate) & cfg.lcs_enabled
           & (F.least("len_a", "len_b") >= cfg.tau_lcs_min_bytes)))
    return fast_pass, deep_gate


def _pair_meta(cand: DataFrame, signatures: DataFrame,
               cfg: DedupConfig) -> DataFrame:
    """The 16-byte-sketch pair-metadata join + est/hamming exprs —
    extracted so count_deep_gated shares verify_pairs' exact plan shape."""
    m_eff = min(cfg.est_components, cfg.num_perm)
    meta_a = signatures.select(F.col("file_id").alias("a"),
                               F.col("simhash").alias("simhash_a"),
                               F.col("mhb_lo").alias("lo_a"),
                               F.col("mhb_hi").alias("hi_a"),
                               F.col("n_bytes").alias("len_a"))
    meta_b = signatures.select(F.col("file_id").alias("b"),
                               F.col("simhash").alias("simhash_b"),
                               F.col("mhb_lo").alias("lo_b"),
                               F.col("mhb_hi").alias("hi_b"),
                               F.col("n_bytes").alias("len_b"))
    # join strategy left to AQE (round 6): the forced shuffle_hash hint
    # suppressed AQE's runtime broadcast conversion, so the bench-scale
    # sketch table (40 B/row) shuffled the pair list twice; unhinted, AQE
    # broadcasts the sketch side when its runtime size fits and falls back
    # to shuffled-hash (session.py sets preferSortMergeJoin=false) at
    # scale — the same plan the hint forced, minus the sort
    return (cand.join(meta_a, on="a")
            .join(meta_b, on="b")
            .withColumn("est", bbit_est_expr(F.col("lo_a"), F.col("hi_a"),
                                             F.col("lo_b"), F.col("hi_b"),
                                             m_eff))
            .withColumn("hamming", hamming_expr(F.col("simhash_a"),
                                                F.col("simhash_b")))
            .select("a", "b", "est", "hamming", "len_a", "len_b"))


def count_deep_gated(cand: DataFrame, signatures: DataFrame,
                     cfg: DedupConfig) -> int:
    """How many of ``cand`` the cascade would route to DEEP verification —
    metrics-mode accounting for the escalation deep budget (no-silent-caps:
    n_esc_deep_dropped in pipeline metrics), never on the hot path."""
    _, deep_gate = _gate_exprs(cfg)
    row = (_pair_meta(cand, signatures, cfg)
           .agg(F.sum(deep_gate.cast("long")).alias("d")).first())
    return int(row["d"] or 0)


def verify_pairs(cand: DataFrame, signatures: DataFrame,
                 uniq: DataFrame, cfg: DedupConfig,
                 handles: list | None = None,
                 eager_meta: bool = True,
                 formulation: str = "joined",
                 deep_budget: int = 0) -> DataFrame:
    """V4 — cascade (see DedupConfig). Returns DF[VERIFIED_SCHEMA];
    jaccard/lcs_len = -1 where the cascade never computed them.

    ``signatures`` must carry (file_id, simhash, minhash, n_bytes);
    ``uniq`` carries (file_id, content) for the deep residue only.
    ``handles``: internal persisted DataFrames are appended here so the
    caller can unpersist them once the verified table is materialized.

    ``eager_meta=False`` skips the pair-metadata agg barrier (one
    sequential driver action per call — barrier-attributed at 5-8 s per
    occurrence on the 200k bench corpus, r5): the meta persist then
    fills lazily on first consumption, and because the output plan
    references meta twice the fill can race cold and compute the meta
    plan twice. Only for SMALL calls (rep pairs, the escalation wave —
    both bounded by the salting caps) where double-computing meta is
    cheaper than a barrier; the residue count is then unknown, so the
    deep stage takes the plain ``task_width`` of the session.

    ``formulation`` names the deep plan; "joined" is the only one.

    ``deep_budget`` (0 = off): cap the DEEP residue to the top-N pairs by
    est DESCENDING (deterministic a,b tiebreak) — best-evidence-first.
    Used by the escalation wave only (see DedupConfig.escalate_deep_budget
    for the round-5 1M measurement behind it); budget-dropped pairs keep
    their sketch verdicts (fast-pass/fail) and simply skip deep, exactly
    like pairs below the est gates. Accounted in pipeline metrics via
    count_deep_gated (n_esc_deep_dropped) — never a silent cap.
    """
    if formulation != "joined":
        raise ValueError(f"unknown deep-verify formulation {formulation!r}; "
                         "only 'joined' exists")
    meta = _pair_meta(cand, signatures, cfg).persist()

    # deep residue: hamming failed, est below the near-certain accept, AND
    # est clears a gate; the LCS-only band (est in [lcs_gate, exact_gate))
    # additionally needs the length floor (LCS <= min normalized length,
    # computed exactly in the signature stage)
    fast_pass, deep_gate = _gate_exprs(cfg)

    # ONE action fills the (three-consumer) metadata cache AND measures the
    # residue that sizes the deep stage — a separate need.count() would be
    # a wasted sequential barrier
    if eager_meta:
        with barrier("v_meta_agg"):
            row = meta.agg(F.count("*").alias("n"),
                           F.sum(deep_gate.cast("long")).alias("d")).first()
        n_deep = row["d"] or 0
        instrument.note("n_pairs", row["n"])
        instrument.note("n_deep", n_deep)
        p_deep = task_width(cand.sparkSession, n_deep)
    else:
        p_deep = task_width(cand.sparkSession)
    if handles is not None:
        handles.append(meta)
    need = meta.where(deep_gate).select("a", "b", "est")
    if deep_budget > 0:
        # TakeOrdered (sort+limit fuses; no full shuffle) — best evidence
        # first, deterministic under ties
        need = need.orderBy(F.desc("est"), "a", "b").limit(deep_budget)

    c_a = uniq.select(F.col("file_id").alias("a"),
                      F.col("content").alias("content_a"))
    c_b = uniq.select(F.col("file_id").alias("b"),
                      F.col("content").alias("content_b"))
    deep = (need.join(c_a, on="a").join(c_b, on="b")
            .repartition(p_deep, "a")
            .mapInPandas(_deep_mapper_joined(cfg),
                         schema="a long, b long, jaccard double, "
                                "lcs_len long, deep_pass boolean"))

    return (meta.join(deep, on=["a", "b"], how="left")
            .withColumn("jaccard", F.coalesce("jaccard", F.lit(-1.0)))
            .withColumn("lcs_len",
                        F.coalesce(F.col("lcs_len"), F.lit(-1)).cast("long"))
            .withColumn("passed",
                        (F.col("hamming") <= cfg.tau_hamming)
                        | (F.col("est") >= cfg.est_accept)
                        | F.coalesce(F.col("deep_pass"), F.lit(False)))
            .select("a", "b", "est", "jaccard", "hamming", "lcs_len",
                    "passed"))
