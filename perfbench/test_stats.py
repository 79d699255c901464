"""Tests of the benchmark's own arithmetic; no Spark session needed.

    python3 -m pytest perfbench/test_stats.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_tail_leaves_ten_samples_above_it():
    values = [float(i) for i in range(1, 41)]  # 1..40, shuffled below
    values = values[::2] + values[1::2]
    v, pct, n = stats.tail(values)
    assert n == 40
    assert v == 30.0
    assert sum(1 for x in values if x > v) == 10
    assert pct == pytest.approx(75.0)


def test_tail_with_eleven_samples_is_the_first():
    v, pct, n = stats.tail([5.0] + [9.0] * 10)
    assert (v, n) == (5.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_with_ten_or_fewer_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        stats.tail([])


def test_spread_is_interquartile_range_over_median():
    values = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    # statistics.quantiles(n=4), exclusive method: 2.75, 5.5, 8.25
    assert stats.spread(values) == pytest.approx((8.25 - 2.75) / 5.5)


def test_self_time_subtracts_children_and_their_bookkeeping():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "opened": 1.0, "start": 1.5, "end": 3.0,
         "closed": 3.5},
        # overlaps the first child: the union is what counts
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 2, "start": 4.0, "end": 4.5},
        # sticks out past its parent's end: clipped
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},
    ]
    out = stats.self_times(spans)
    assert out[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 9.0))
    assert out[1] == pytest.approx(1.5)
    assert out[2] == pytest.approx(1.5)
    assert out[3] == pytest.approx(0.5)
    assert out[4] == pytest.approx(3.0)


def test_failures_count_exceptions_and_wrong_outputs():
    f = stats.Failures()
    assert f.ratio == 0.0
    f.ok()
    f.ok()
    f.fail("q1", "ValueError: boom")
    f.fail("q2", "3 rows, DuckDB oracle has 4")
    assert (f.attempted, f.failed) == (4, 2)
    assert f.ratio == 0.5
    assert [op for op, _ in f.reasons] == ["q1", "q2"]


METRICS = [
    {"name": "round_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "rows_per_s", "unit": "rows/s", "better": "higher",
     "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]


def _runs(center, jitter=0.01, n=10):
    return [center * (1 + jitter * ((i % 5) - 2)) for i in range(n)]


def test_agreement_accepts_two_steady_sets():
    a = {"round_s": _runs(10), "rows_per_s": _runs(1e5), "setup_s": _runs(8)}
    b = {"round_s": _runs(10.3), "rows_per_s": _runs(0.97e5),
         "setup_s": _runs(8.5)}
    assert stats.agreement(a, b, METRICS) == []


def test_agreement_flags_worse_medians_in_each_direction():
    a = {"round_s": _runs(10), "rows_per_s": _runs(1e5), "setup_s": _runs(8)}
    b = {"round_s": _runs(11.5), "rows_per_s": _runs(0.8e5),
         "setup_s": _runs(10.5)}
    problems = stats.agreement(a, b, METRICS)
    assert len(problems) == 3
    assert all("worse than first" in p for p in problems)
    # better is never a violation
    assert stats.agreement(b, a, METRICS) == []


def test_agreement_checks_spread_except_setup():
    wide = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    a = {"round_s": wide, "rows_per_s": _runs(1e5), "setup_s": wide}
    b = {"round_s": _runs(5.5), "rows_per_s": _runs(1e5), "setup_s": wide}
    problems = stats.agreement(a, b, METRICS)
    assert problems == [f"round_s: first spread {stats.spread(wide):.3f} "
                        "> bound 0.1"]
