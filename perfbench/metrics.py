"""Metric arithmetic shared by the benchmark and its tests (pure Python).

Nothing here touches Spark: each function takes plain numbers, intervals or
labels and returns the figure the benchmark reports.
"""

from __future__ import annotations

import hashlib
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def quartile_spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them — the run-to-run spread a metric's bound is compared with."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals: overlapping spans,
    such as a barrier run from a helper thread, count once."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def unattributed_s(wall_s: float,
                   intervals: list[tuple[float, float]]) -> float:
    """Wall time no interval accounts for (never below zero)."""
    return max(0.0, wall_s - covered_s(intervals))


def bytes_ratio(stored_bytes: int, input_bytes: int) -> float:
    return stored_bytes / input_bytes


def partition_digest(keys: list, labels: list) -> str:
    """Digest of the partition ``labels`` induces on ``keys``, independent
    of the label values: each key is mapped to the smallest key sharing
    its label, and the sorted (key, representative) list is hashed."""
    rep: dict = {}
    for k, lab in zip(keys, labels):
        if lab not in rep or k < rep[lab]:
            rep[lab] = k
    h = hashlib.sha256()
    for k, lab in sorted(zip(keys, labels)):
        h.update(repr((k, rep[lab])).encode())
    return h.hexdigest()
