"""The benchmark's metric arithmetic."""

import statistics

import pytest

import metrics as M


def test_median_and_quartile_spread():
    xs = [10.0, 12.0, 11.0, 13.0, 9.0, 11.5, 10.5, 12.5, 11.0, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert M.median(xs) == statistics.median(xs) == 11.0
    assert M.quartile_spread(xs) == pytest.approx((q3 - q1) / 11.0)
    assert M.quartile_spread([5.0] * 10) == 0.0


def test_unattributed_gap_counts_overlaps_once():
    # a helper-thread barrier (2-4) overlaps the main one (1-3)
    spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]
    assert M.covered_s(spans) == pytest.approx(4.0)
    assert M.unattributed_s(10.0, spans) == pytest.approx(6.0)
    assert M.unattributed_s(3.0, spans) == 0.0
    assert M.covered_s([]) == 0.0
    # nested spans
    assert M.covered_s([(0.0, 5.0), (1.0, 2.0)]) == pytest.approx(5.0)


def test_bytes_ratio():
    assert M.bytes_ratio(3 * 2**20, 2**20) == 3.0


def test_partition_digest_ignores_label_values_and_row_order():
    keys = [("r", "a", "1"), ("r", "b", "2"), ("r", "c", "3")]
    d = M.partition_digest(keys, [5, 5, 9])
    assert M.partition_digest(keys[::-1], [9, 5, 5]) == d
    assert M.partition_digest(keys, [1, 1, 2]) == d
    assert M.partition_digest(keys, [1, 2, 2]) != d
