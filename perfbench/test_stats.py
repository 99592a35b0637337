"""Tests for the benchmark's metric arithmetic, on synthetic inputs (no Spark).

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_percentile_matches_numpy_linear_method():
    np = pytest.importorskip("numpy")
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.5]
    for p in (0, 10, 50, 90, 99, 100):
        assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(9, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
     (1000, 99.0), (10_000, 99.9)],
)
def test_highest_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.highest_supported_percentile(n) == expected


def test_summarize_reports_sample_count_and_top_percentile():
    xs = [float(i) for i in range(1, 101)]  # 100 samples: p90 has 10 beyond it
    s = stats.summarize(xs)
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["p90"] == pytest.approx(90.1)
    assert s["top_p"] == 90.0 and s["top_value"] == pytest.approx(90.1)
    assert "top_p" not in stats.summarize([1.0] * 19)


def test_visible_latencies_weight_each_batch_by_its_rows():
    # call submitted at t=100; batch 0 (3 rows) visible at 102, batch 1 (1 row) at 105
    lat = stats.visible_latencies({0: 3, 1: 1}, {0: 102.0, 1: 105.0, 2: 106.0}, 100.0)
    assert sorted(lat) == [2.0, 2.0, 2.0, 5.0]
    assert stats.percentile(lat, 50) == 2.0


def test_visible_latencies_missing_batch_marker_raises():
    with pytest.raises(KeyError):
        stats.visible_latencies({0: 1, 7: 2}, {0: 1.0}, 0.0)


def test_failed_frac_counts_against_attempted():
    assert stats.failed_frac(200, 0) == 0.0
    assert stats.failed_frac(200, 3) == pytest.approx(0.015)
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(5, 6)


def test_multiset_mismatches_counts_each_bad_key_once():
    expected = {"a": 1, "b": 2, "c": 3, "d": 4}
    actual = [("a", 1), ("b", 9), ("c", 3), ("c", 3), ("e", 5)]  # b wrong, c twice, d missing, e extra
    assert stats.multiset_mismatches(expected, actual) == 4
    assert stats.multiset_mismatches(expected, list(expected.items())) == 0


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_times_subtract_union_of_children():
    spans = [
        _span(0, "run", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),   # overlaps a: union of children is [1, 6]
        _span(3, "c", 8.0, 12.0, 0),  # runs past its parent: clipped to [8, 10]
        _span(4, "a.inner", 1.5, 2.0, 1),
    ]
    st = stats.self_times(spans)
    assert st["run"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["a"] == pytest.approx(3.0 - 0.5)
    assert st["b"] == pytest.approx(3.0)
    assert st["a.inner"] == pytest.approx(0.5)


def test_self_times_sum_repeated_names():
    spans = [_span(0, "q", 0.0, 1.0), _span(1, "q", 2.0, 2.5)]
    assert stats.self_times(spans)["q"] == pytest.approx(1.5)


def test_prefix_self_times_are_successive_differences():
    walls = [("scan", 2.0), ("classify", 5.0), ("fold", 9.0), ("sink", 10.5)]
    st = stats.prefix_self_times(walls)
    assert st == pytest.approx({"scan": 2.0, "classify": 3.0, "fold": 4.0, "sink": 1.5})
    assert sum(st.values()) == pytest.approx(walls[-1][1])


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_query_order_is_a_seeded_permutation():
    workloads = pytest.importorskip("workloads")
    a, b = workloads.query_order(7), workloads.query_order(7)
    assert a == b and sorted(a) == sorted(workloads.QUERIES)
    assert any(workloads.query_order(s) != a for s in range(8, 12))


def test_oracle_digest_ignores_row_and_column_order():
    pd = pytest.importorskip("pandas")
    workloads = pytest.importorskip("workloads")
    canon = workloads._parity_canon()
    x = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    y = x.iloc[::-1][["v", "k"]]
    assert workloads._digest(canon, x) == workloads._digest(canon, y)
    assert workloads._digest(canon, x) != workloads._digest(canon, x.assign(v=[0.5, None, 2.5]))


def test_geomean_scales_with_its_inputs():
    xs = [0.5, 2.0, 8.0]
    assert stats.geomean(xs) == pytest.approx(2.0)
    assert stats.geomean([3 * x for x in xs]) == pytest.approx(6.0)
    with pytest.raises(ValueError):
        stats.geomean([])
