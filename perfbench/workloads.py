"""Seeded input generators for the benchmark workloads (pure Python).

Each generator returns ``list[corpus.CorpusRow]``: the
(repo, path, commit, lang, content) relation the pipeline reads, plus the
planted ground truth (gt_cluster > 0 marks a true duplicate family) that
only the benchmark's checks read. The same seed gives the same bytes.
"""

from __future__ import annotations

import random
import string

from nise_dedup import corpus as C

# Near-duplicate family: more whitespace-churn members (signature-identical
# after "ws" normalization) than DedupConfig.bucket_cap (256), so each of its
# band buckets salts and its rep pairs run (and pass). The other 15% carry
# <=5% line edits; their pairs reach the exact-Jaccard stage of the cascade.
NEAR_SIZE = (320, 360)
NEAR_WS_SHARE = 0.85
# License-style family: one shared header (15 bytes, far under the
# cascade's 512-byte LCS floor) plus a distinct 40-character body. Two
# members share ~9% of their shingles, so every pair fails verification
# without reaching the deep stage. The docs are short enough that one-
# permutation MinHash densification lets the header alone decide a band's
# key for 25-35% of members in the luckiest bands: with 930-990 members one
# or two band buckets hold 257-370 members, i.e. they salt (> bucket_cap)
# and stay escalation-eligible (<= escalate_max_members = 512), their rep
# pairs fail and the escalation wave runs.
LICENSE_SIZE = (930, 990)
LICENSE_BODY_BYTES = 40
HEADER = "// SPDX: MIT-0\n"
HOT_CLUSTER = 1 << 41
_ALNUM = string.ascii_letters + string.digits


def planted(seed: int) -> list[C.CorpusRow]:
    """The repo's planted corpus (FIXTURES.md §B mix): two "small" corpora
    (5,001 files each) from consecutive seeds."""
    rows = []
    for p in range(2):
        for r in C.generate("small", 2 * seed + p):
            # the skew stubs are the same boilerplate in every part: one
            # family; every other family is new content per part
            if r.gt_cluster > 0 and r.dup_class != "skew":
                r.gt_cluster += p << 42
            rows.append(r)
    return rows


def _body(rng: random.Random, i: int) -> str:
    """Body of the i-th license member: two characters that encode ``i``
    (so no two bodies share a shingle-window prefix) plus random ones."""
    a = _ALNUM
    return (a[i % len(a)] + a[i // len(a) % len(a)]
            + "".join(rng.choice(a) for _ in range(LICENSE_BODY_BYTES - 2))
            + "\n")


def hot_buckets(seed: int) -> list[C.CorpusRow]:
    """Planted "tiny" corpus plus the near-duplicate and license-style
    families above."""
    rng = random.Random(seed ^ 0x5EED)
    rows = list(C.generate("tiny", seed))
    file_no = len(rows)

    def emit(content: str, gt: int, dup_class: str) -> None:
        nonlocal file_no
        lang = "java" if dup_class == "license_hot" else "py"
        rows.append(C.CorpusRow(
            f"hotrepo{rng.randrange(40)}",
            f"hot/{dup_class}/{C._ident(rng)}_{file_no}.{lang}",
            C._fresh_commit(rng), lang, content, gt, dup_class))
        file_no += 1

    base = C._base_file(rng, rng.randint(60, 90))
    size = rng.randint(*NEAR_SIZE)
    n_ws = round(NEAR_WS_SHARE * size)
    for k in range(size):
        if k < n_ws:
            emit(C._mutate_ws(rng, base), HOT_CLUSTER, "near_ws")
        else:
            emit(C._mutate_edit(rng, base), HOT_CLUSTER, "near_edit")
    for i in range(rng.randint(*LICENSE_SIZE)):
        emit(HEADER + _body(rng, i), -1, "license_hot")
    return rows


WORKLOADS = {"planted_10k": planted, "hot_buckets": hot_buckets}
