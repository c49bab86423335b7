"""Tests for the benchmark's metric arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import metricmath as mm  # noqa: E402
from perfbench.checks import canonical, recall_at_5  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert mm.tail_percentile(9) is None
    assert mm.tail_percentile(19) is None
    assert mm.tail_percentile(20) == 50.0
    assert mm.tail_percentile(89) == 50.0
    assert mm.tail_percentile(98) == 90.0
    assert mm.tail_percentile(100) == 90.0
    assert mm.tail_percentile(1000) == 99.0
    assert mm.tail_percentile(10_000) == 99.9


def test_percentile_interpolates_between_ranks():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert mm.percentile(values, 50) == 3.0
    assert mm.percentile(values, 90) == pytest.approx(4.6)
    assert mm.percentile(values, 0) == 1.0
    assert mm.percentile(values, 100) == 5.0
    assert mm.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert mm.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        mm.percentile([], 50)


def test_union_length_merges_overlaps_and_clips():
    assert mm.union_length([]) == 0.0
    assert mm.union_length([(0, 1), (2, 3)]) == 2.0
    assert mm.union_length([(0, 2), (1, 3)]) == 3.0
    assert mm.union_length([(0, 5), (1, 2), (3, 4)]) == 5.0
    assert mm.union_length([(1, 2), (0, 1)]) == 2.0  # touching, unsorted
    assert mm.union_length([(0, 10)], lo=2, hi=4) == 2.0
    assert mm.union_length([(0, 1), (5, 6)], lo=2, hi=4) == 0.0


def test_driver_gap_is_wall_minus_job_union():
    # action 0..10 s, jobs 1..3 and 2..5 (overlapping), 7..8
    assert mm.gap_time(0, 10, [(1, 3), (2, 5), (7, 8)]) == 10 - 5
    # a job that started before the action counts only inside it
    assert mm.gap_time(0, 10, [(-2, 1)]) == 9
    assert mm.gap_time(0, 10, []) == 10


def test_self_time_subtracts_covered_children():
    assert mm.self_time((0, 10), [(1, 4), (3, 6)]) == 5
    assert mm.self_time((0, 10), [(0, 10)]) == 0
    assert mm.self_time((0, 10), [(8, 12)]) == 8


def test_quartile_spread():
    assert mm.quartile_spread([10.0] * 5) == 0.0
    # statistics.quantiles (exclusive method) gives Q1=9.25, Q3=10.75
    spread = mm.quartile_spread([9.0, 9.5, 10.0, 10.5, 11.0])
    assert spread == pytest.approx((10.75 - 9.25) / 10.0)
    assert math.isfinite(spread)


def test_parse_sql_metric():
    assert mm.parse_sql_metric("220 ms") == pytest.approx(0.22)
    assert mm.parse_sql_metric("0.0 B") == 0.0
    assert mm.parse_sql_metric("1,024") == 1024.0
    total = "total (min, med, max (stageId: taskId))\n5.7 s (1.4 s, 1.4 s, 1.5 s (stage 0.0: task 0))"
    assert mm.parse_sql_metric(total) == pytest.approx(5.7)
    sized = "total (min, med, max (stageId: taskId))\n782.9 KiB (195.7 KiB, 195.7 KiB, 195.7 KiB)"
    assert mm.parse_sql_metric(sized) == pytest.approx(782.9 * 1024)


def test_canonical_rows_ignore_order_and_column_order():
    a = canonical(["b", "a"], [(1.0, "x"), (2.0, "y")])
    b = canonical(["a", "b"], [("y", 2.0000000001), ("x", 1.0)])
    assert a == b


def test_recall_at_5():
    cols = ["query_id", "rank", "neighbor_id"]
    exact = [(0, r, n) for r, n in enumerate([10, 11, 12, 13, 14], start=1)]
    approx = [(0, r, n) for r, n in enumerate([10, 11, 12, 99, 98], start=1)]
    assert recall_at_5(exact, cols, approx, cols) == pytest.approx(0.6)
    assert recall_at_5(exact, cols, exact, cols) == 1.0
    assert recall_at_5(exact, cols, [], cols) == 0.0


def test_sample_counts_per_metric():
    from perfbench.run import sample_counts

    samples = {"passes": 2, "ops": 22, "tail_percentile_with_10_beyond": 50.0}
    names = ["setup_s", "cold_s", "wall_s", "op_p50_s", "op_p90_s",
             "session.warm_s", "ann_index.build_s", "spark.jobs", "op.q1_pricing_summary.s"]
    assert sample_counts(samples, names) == {
        "setup_s": 1, "cold_s": 1, "wall_s": 2, "op_p50_s": 22, "op_p90_s": 22,
        "session.warm_s": 1, "ann_index.build_s": 1, "spark.jobs": 2,
        "op.q1_pricing_summary.s": 2,
    }
