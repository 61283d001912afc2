"""Self-tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

import pytest  # noqa: E402

from perfbench import stats  # noqa: E402
from perfbench.workloads import Op, same_answer  # noqa: E402


@pytest.mark.parametrize("n, want", [
    (5, None), (33, None), (34, 70.0), (39, 70.0), (40, 75.0),
    (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = stats.tail_percentile([n])
    assert p == want
    if p is not None:  # the rank it names really leaves >= 10 above it
        xs = list(range(n))
        assert sum(x > stats.percentile(xs, p) for x in xs) >= 10


def test_tail_percentile_sums_samples_beyond_over_kinds():
    # p70 of 14 is rank 10, leaving 4 above it in each of three kinds
    assert stats.tail_percentile([14, 14, 14]) == 70.0
    assert stats.tail_percentile([13, 13, 13]) is None  # 3 above in each
    assert stats.tail_percentile([14, 14, 14], min_beyond=12) == 70.0


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 1) == 1
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_balanced_percentile_weighs_every_kind_the_same():
    # one more cheap op than dear ones moves a pooled median from the
    # dear kind to the cheap one; the balanced value does not jump
    cheap, dear = [100.0, 110.0, 120.0, 130.0], [900.0, 1000.0, 1100.0]
    pooled = stats.percentile(cheap + dear, 50)
    assert pooled == 130.0
    assert stats.balanced_percentile({"a": cheap, "b": dear}, 50) == \
        pytest.approx((110.0 + 1000.0) / 2)
    assert stats.balanced_percentile({"a": [5.0]}, 70) == 5.0
    with pytest.raises(ValueError):
        stats.balanced_percentile({}, 50)


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, med, q3 = 11.75, 14.5, 17.25  # the 'exclusive' method
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / med)


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent}


def test_self_time_nested_spans():
    spans = [_span(1, "server.request", 0, 10),
             _span(2, "engine.sql", 1, 4, parent=1),
             _span(3, "sqlshim.rewrite", 2, 3, parent=2),
             _span(4, "scheduler.submit", 5, 9, parent=1)]
    st = stats.self_times(spans)
    assert st == {1: 3, 2: 2, 3: 1, 4: 4}
    assert stats.self_time_by_name(spans)["server.request"] == 3


def test_self_time_overlapping_children_counted_once():
    # two worker-thread children overlap each other and one overruns
    # the parent's end: only the covered part of the parent counts
    spans = [_span(1, "scheduler.submit", 0, 10),
             _span(2, "scheduler.wait", 1, 5, parent=1),
             _span(3, "scheduler.exec", 3, 8, parent=1),
             _span(4, "exec.collect", 9, 12, parent=1)]
    assert stats.self_times(spans)[1] == pytest.approx(10 - 7 - 1)


def test_union_length():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(5, 6), (0, 10)]) == 10


def test_plan_cache_ratio_with_base_counts():
    assert stats.plan_cache_ratio(10, 5, 29, 6) == (0.95, 19, 20)
    assert stats.plan_cache_ratio(3, 3, 3, 3) == (None, 0, 0)
    with pytest.raises(ValueError):
        stats.plan_cache_ratio(5, 5, 4, 6)


def test_failure_counting_includes_rejections_and_wrong_answers():
    ops = [Op("read", 0, 0.1, status=200),
           Op("read", 0, 0.1, status=429),
           Op("read", 0, 0.1, status=200, correct=False),
           Op("read", 0, 0.1, status=500),
           Op("read", 0, 0.1, error="TimeoutError: timed out"),
           Op("read", 0, 0.1, error="ConnectionResetError: reset"),
           Op("write", 0, 0.1, status=202)]
    attempted, failed, by_kind = stats.count_failures(o.failure for o in ops)
    assert (attempted, failed) == (7, 5)
    assert by_kind == {"exception": 1, "http_500": 1, "rejected": 1,
                       "timeout": 1, "wrong_answer": 1}


def test_same_tolerates_float_noise_only():
    assert stats.same({"s": 1e10, "n": 3}, {"s": 1e10 * (1 + 1e-12),
                                            "n": 3.0})
    assert not stats.same({"s": 1.0}, {"s": 1.001})
    assert not stats.same([1, 2], [1, 2, 3])
    assert not stats.same(True, 1)


def test_same_rows_ignores_row_order():
    a = [["A", 2, 0.1 + 0.2], ["N", 1, 5.0]]
    b = [["N", 1, 5.0], ["A", 2, 0.3]]
    assert stats.same_rows(a, b)
    assert not stats.same_rows(a, [["N", 1, 5.0], ["A", 3, 0.3]])


def test_same_answer_accepts_reordered_result_rows():
    serial = [{"event": {"k": "a", "s": 1.5}}, {"event": {"k": "b",
                                                          "s": 2.5}}]
    assert same_answer(list(reversed(serial)), serial)
    assert not same_answer([{"event": {"k": "a", "s": 9.0}}], serial)
