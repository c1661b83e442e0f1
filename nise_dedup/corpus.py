"""Deterministic synthetic source-code corpus generator (FIXTURES.md §B).

Produces the (repo, path, commit, lang, content) relation BASELINE.json fixes
as the engine's input shape, plus a ground-truth side table
(repo, path, commit, gt_cluster, dup_class) the pipeline never reads.
Everything derives from one integer seed via ``random.Random`` — identical
bytes across runs/machines; no time, no dict-order dependence.

Planted duplicate classes (FIXTURES.md §B):
  exact    byte-identical copy            (exercises sha256 collapse R3)
  ws       whitespace/blank-line churn
  comment  comments added/removed
  rename   consistent identifier renames
  edit     <=5% random line edits
  block    >=60% common block inside otherwise-different files (LCS catch, V3)
  license  same header, different bodies  (NEGATIVE: must not cluster)
  unique   singletons                     (negative)
Plus a skew family: ~1% near-empty boilerplate files sharing LSH buckets,
to exercise salted repartitioning (L2).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

LANGS = ["py", "java", "js", "c", "go"]

_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu "
          "xi omicron pi rho sigma tau upsilon phi chi psi omega node edge "
          "graph hash table index batch stream buffer queue stack heap tree "
          "merge split scan probe emit flush chunk token parse").split()

_LICENSE = (
    "// Copyright (c) 2026 Example Corp.\n"
    "// Licensed under the Apache License, Version 2.0 (the \"License\");\n"
    "// you may not use this file except in compliance with the License.\n"
    "// You may obtain a copy of the License at\n"
    "//     http://www.apache.org/licenses/LICENSE-2.0\n"
    "// Unless required by applicable law or agreed to in writing, software\n"
    "// distributed under the License is distributed on an \"AS IS\" BASIS.\n\n"
)

SIZES = {"tiny": 200, "small": 5000, "medium": 50_000, "bench": 200_000,
         "mid500k": 500_000, "xl": 1_000_000}


@dataclass
class CorpusRow:
    repo: str
    path: str
    commit: str
    lang: str
    content: str
    gt_cluster: int   # -1 for negatives/singletons
    dup_class: str


def _ident(rng: random.Random) -> str:
    return rng.choice(_WORDS) + "_" + rng.choice(_WORDS)


def _line(rng: random.Random, idents: list[str]) -> str:
    kind = rng.randrange(5)
    a, b = rng.choice(idents), rng.choice(idents)
    if kind == 0:
        return f"    {a} = {b} + {rng.randrange(1000)}"
    if kind == 1:
        return f"    if {a} > {rng.randrange(100)}: {b} = {a} * 2"
    if kind == 2:
        return f"    # {rng.choice(_WORDS)} {rng.choice(_WORDS)} {rng.choice(_WORDS)}"
    if kind == 3:
        return f"    {a}.append({b}[{rng.randrange(16)}])"
    return f"    return {a} if {b} else {rng.randrange(10)}"


def _base_file(rng: random.Random, n_lines: int) -> str:
    idents = [_ident(rng) for _ in range(rng.randint(4, 12))]
    lines = [f"def {_ident(rng)}({', '.join(idents[:3])}):"]
    lines += [_line(rng, idents) for _ in range(n_lines)]
    return "\n".join(lines) + "\n"


def _mutate_ws(rng: random.Random, text: str) -> str:
    out = []
    for ln in text.split("\n"):
        out.append(ln + (" " * rng.randrange(3)))
        if rng.random() < 0.10:
            out.append("")
    return "\n".join(out)


def _mutate_comment(rng: random.Random, text: str) -> str:
    out = []
    for ln in text.split("\n"):
        if ln.lstrip().startswith("#") and rng.random() < 0.5:
            continue  # drop comment
        out.append(ln)
        if rng.random() < 0.08:
            out.append(f"    # note: {rng.choice(_WORDS)} {rng.choice(_WORDS)}")
    return "\n".join(out)


def _mutate_rename(rng: random.Random, text: str) -> str:
    # consistent identifier rename: swap two word stems everywhere
    a, b = rng.sample(_WORDS, 2)
    return text.replace(a, "zz" + a)  # noqa: keep simple & consistent


def _mutate_edit(rng: random.Random, text: str) -> str:
    lines = text.split("\n")
    n = max(1, int(len(lines) * 0.05))
    idents = [_ident(rng) for _ in range(4)]
    for _ in range(n):
        op = rng.randrange(3)
        i = rng.randrange(len(lines))
        if op == 0 and len(lines) > 5:
            del lines[i]
        elif op == 1:
            lines.insert(i, _line(rng, idents))
        else:
            lines[i] = _line(rng, idents)
    return "\n".join(lines)


def _fresh_commit(rng: random.Random) -> str:
    return "%040x" % rng.getrandbits(160)


def generate(size: str = "tiny", seed: int = 42) -> list[CorpusRow]:
    n_files = SIZES[size]
    rng = random.Random(seed)
    rows: list[CorpusRow] = []
    cluster_id = 0
    file_no = 0

    def emit(content: str, lang: str, gt: int, dup_class: str) -> None:
        nonlocal file_no
        repo = f"repo{rng.randrange(max(2, n_files // 50))}"
        path = f"src/{rng.choice(_WORDS)}/{rng.choice(_WORDS)}_{file_no}.{lang}"
        rows.append(CorpusRow(repo, path, _fresh_commit(rng), lang, content,
                              gt, dup_class))
        file_no += 1

    mutators = {"exact": lambda r, t: t, "ws": _mutate_ws,
                "comment": _mutate_comment, "rename": _mutate_rename,
                "edit": _mutate_edit}
    pos_classes = list(mutators)

    # skew family: near-identical boilerplate sharing LSH buckets (exercises
    # salted repartitioning L2). They ARE genuine near-dups by construction,
    # so they form one positive ground-truth cluster (reserved id).
    SKEW_CLUSTER = 1 << 40
    n_skew = max(2, n_files // 100)
    for _ in range(n_skew):
        emit("# auto-generated stub\npass\n" + " " * rng.randrange(2),
             "py", SKEW_CLUSTER, "skew")

    while file_no < n_files:
        lang = rng.choice(LANGS)
        roll = rng.random()
        n_lines = max(3, int(rng.lognormvariate(3.2, 0.8)))
        base = _base_file(rng, n_lines)
        if roll < 0.45:  # positive dup family
            dup_class = rng.choice(pos_classes)
            k = rng.randint(2, 8)
            cluster_id += 1
            emit(base, lang, cluster_id, dup_class)
            for _ in range(k - 1):
                emit(mutators[dup_class](rng, base), lang, cluster_id, dup_class)
        elif roll < 0.55:  # block: >=60% common block in different files
            cluster_id += 1
            block = _base_file(rng, max(20, n_lines * 3))
            for _ in range(rng.randint(2, 4)):
                other = _base_file(rng, max(2, n_lines // 2))
                emit(other + block, lang, cluster_id, "block")
        elif roll < 0.65:  # license negatives: shared header, distinct bodies
            for _ in range(rng.randint(2, 4)):
                emit(_LICENSE + _base_file(rng, n_lines + rng.randrange(8)),
                     lang, -1, "license")
        else:
            emit(base, lang, -1, "unique")
    return rows[:n_files + n_skew]


def truth_dup_pairs(rows: list[CorpusRow]) -> set:
    """Ground-truth within-cluster pairs keyed by (repo, path, commit)."""
    groups: dict[int, list] = {}
    for r in rows:
        if r.gt_cluster > 0:
            groups.setdefault(r.gt_cluster, []).append((r.repo, r.path, r.commit))
    out = set()
    for members in groups.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out


def to_pandas(rows: list[CorpusRow]):
    import pandas as pd
    return pd.DataFrame({
        "repo": [r.repo for r in rows], "path": [r.path for r in rows],
        "commit": [r.commit for r in rows], "lang": [r.lang for r in rows],
        "content": [r.content for r in rows],
    })
