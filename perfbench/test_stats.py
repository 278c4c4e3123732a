"""Self-tests of the benchmark's helpers (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import fingerprint  # noqa: E402
from stats import (  # noqa: E402
    Span,
    driver_gaps,
    percentile,
    quartile_spread,
    self_times,
    tail,
    trend,
    union_length,
)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    value, pct = tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100.0 * 89 / 99)
    # 21 samples: the 11th largest is the median itself, so no tail.
    assert tail([float(i) for i in range(21)]) == (18.0, 90.0)
    value, pct = tail([float(i) for i in range(22)])
    assert value == 11.0 and pct > 50.0


def test_tail_of_a_small_sample_is_the_interpolated_p90():
    assert tail([3.0, 1.0, 2.0]) == (pytest.approx(2.8), 90.0)
    # Six samples: halfway between the two largest.
    assert tail([1.0, 1.0, 2.0, 2.0, 4.0, 6.0]) == (5.0, 90.0)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0]
    # quantiles(n=4) -> 10.5, 12.0, 13.5
    assert quartile_spread(xs) == pytest.approx(3.0 / 12.0)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def _spans():
    # root [0, 10] with children a [1, 4] and b [3, 6]; b has child c [4, 5].
    spans = {
        0: Span(0, "bench", "root", 0.0, 10.0, None, [1, 2]),
        1: Span(1, "etl", "a", 1.0, 4.0, 0),
        2: Span(2, "sim", "b", 3.0, 6.0, 0, [3]),
        3: Span(3, "tables", "c", 4.0, 5.0, 2),
    }
    return spans


def test_self_time_subtracts_covered_child_time():
    st = self_times(_spans())
    assert st[0] == pytest.approx(10.0 - 5.0)  # children cover [1, 6]
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_self_times_of_sequential_spans_sum_to_the_root_wall():
    spans = {
        0: Span(0, "bench", "root", 0.0, 9.0, None, [1, 2]),
        1: Span(1, "etl", "a", 0.0, 4.0, 0),
        2: Span(2, "nlp", "b", 4.0, 9.0, 0),
    }
    assert sum(self_times(spans).values()) == pytest.approx(9.0)


def test_driver_gap_is_self_time_not_covered_by_own_jobs():
    spans = _spans()
    jobs = {
        1: [(1.5, 2.5), (2.0, 3.0)],  # union 1.5 of a's 3.0 s
        2: [(3.0, 3.5), (4.2, 4.8)],  # second job lies inside child c
        3: [(4.0, 4.5)],
    }
    gaps = driver_gaps(spans, jobs)
    assert gaps[0] == pytest.approx(5.0)  # no jobs of its own
    assert gaps[1] == pytest.approx(1.5)
    assert gaps[2] == pytest.approx(2.0 - 0.5)  # only [3.0, 3.5] is b's own
    assert gaps[3] == pytest.approx(0.5)


def test_trend_flags_growth_only():
    assert trend([21.8, 23.1, 24.3]) == pytest.approx(1.25 / 23.066, rel=1e-3)
    assert trend([10.0, 10.1, 9.9, 10.0]) is None
    assert trend([1.0, 2.0]) is None


def test_fingerprint_is_order_insensitive_and_kind_sensitive():
    a = pd.DataFrame({"y": [1, 2], "x": ["p", "q"]})
    b = pd.DataFrame({"x": ["q", "p"], "y": [2, 1]})
    assert fingerprint(a) == fingerprint(b)
    c = pd.DataFrame({"x": ["q", "p"], "y": [2.0, 1.0]})
    assert fingerprint(a) != fingerprint(c)
    assert fingerprint(a)[0] == 2


def test_benchmark_json_lists_every_reported_metric():
    import json

    from tracing import UNITS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == UNITS
    e2e = [m["name"] for m in bench["end_to_end"]]
    assert e2e == [
        "setup_s", "cold_job_s", "warm_job_s",
        "latency_p50_ms", "latency_tail_ms", "peak_rss_mb",
    ]
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )
