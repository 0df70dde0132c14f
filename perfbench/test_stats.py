"""Tests for the benchmark's pure helpers; no Spark needed.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import (  # noqa: E402
    min_samples_for,
    percentile,
    quartile_spread,
    reconcile,
    result_line,
    self_times,
    tail_percentile,
    valid_metric_name,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def test_min_samples_leaves_ten_beyond():
    assert min_samples_for(50) == 20
    assert min_samples_for(75) == 40
    assert min_samples_for(90) == 100
    assert min_samples_for(99) == 1000


def test_percentile_nearest_rank_leaves_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 90) == 90.0
    assert sum(x > percentile(xs, 90) for x in xs) == 10
    assert percentile(xs[:20], 50) == 10.0
    assert sum(x > percentile(xs[:20], 50) for x in xs[:20]) == 10
    assert percentile([3.0, 1.0, 2.0], 100) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_picks_highest_with_ten_beyond():
    assert tail_percentile(1000) == 99
    assert tail_percentile(100) == 90
    assert tail_percentile(99) == 80
    assert tail_percentile(40) == 75
    assert tail_percentile(20) == 50
    assert tail_percentile(19) is None
    for n in (20, 40, 57, 100, 250):
        p = tail_percentile(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, p) for x in xs) >= 10


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
    assert quartile_spread([5.0] * 10) == 0.0


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [
        _span(1, "query", 0.0, 10.0),
        _span(2, "build", 0.0, 2.0, 1),
        _span(3, "plan", 2.0, 3.0, 1),
        _span(4, "exec", 3.5, 9.5, 1),
        _span(5, "exec.inner", 4.0, 5.0, 4),
    ]
    st = self_times(spans)
    assert st["query"] == pytest.approx(10.0 - 2.0 - 1.0 - 6.0)
    assert st["exec"] == pytest.approx(5.0)
    assert st["build"] == pytest.approx(2.0)


def test_self_time_merges_overlapping_children_and_sums_by_name():
    spans = [
        _span(1, "drain", 0.0, 10.0),
        _span(2, "epoch", 1.0, 4.0, 1),
        _span(3, "epoch", 3.0, 6.0, 1),  # overlaps the first
        _span(4, "epoch", 8.0, 12.0, 1),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st["drain"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["epoch"] == pytest.approx(3.0 + 3.0 + 4.0)


def test_reconcile_accepts_small_gaps_only():
    ok = [
        _span(1, "query", 0.0, 2.0),
        _span(2, "queries.build", 0.0, 0.5, 1),
        _span(3, "queries.plan", 0.501, 0.6, 1),
        _span(4, "queries.exec", 0.6, 1.995, 1),
    ]
    r = reconcile(ok)
    assert r["ok"] and r["queries"] == 1
    assert r["max_gap_s"] == pytest.approx(0.006)
    gap = ok[:3] + [_span(4, "queries.exec", 0.6, 1.5, 1)]
    assert not reconcile(gap)["ok"]


def test_metric_name_grammar():
    for ok in ("setup_s", "exec.core_busy_frac", "op_p50_s", "a-b.c_9", "9x"):
        assert valid_metric_name(ok)
    for bad in ("", "_lead", ".lead", "has space", "unit/s", "é", "x" * 65):
        assert not valid_metric_name(bad)


def test_result_line_shape_and_name_check():
    line = result_line(True, 3, 0, {"pass_s": (1.5, "s")})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"pass_s": {"value": 1.5, "unit": "s"}}
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"bad name": (1.0, "s")})


def test_benchmark_json_names_follow_the_grammar():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(valid_metric_name(n) for n in names)
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
