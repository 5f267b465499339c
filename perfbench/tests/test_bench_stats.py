"""The percentile helper and the spread the steadiness check uses."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.percentile(xs, 0.9) == 90.0  # 10 samples beyond
    assert stats.percentile(xs, 0.95) is None  # only 5 beyond
    assert stats.percentile(xs[:19], 0.5) is None
    assert stats.percentile(xs[:20], 0.5) == 10.0


def test_percentile_rejects_bad_q():
    with pytest.raises(ValueError):
        stats.percentile([1.0], 1.0)


def test_summarize_reports_highest_supported_tail():
    s = stats.summarize([float(i) for i in range(1, 201)])
    assert s == {"n": 200, "p50": 100.5, "tail_q": 0.95, "tail": 190.0}
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail_q": None, "tail": None}


def test_summarize_tail_never_below_median():
    for n in range(1, 300, 7):
        s = stats.summarize([float((i * 37) % n) for i in range(n)])
        assert s["tail"] is None or s["tail"] >= s["p50"]


def test_geomean_and_spread():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    assert stats.spread([10.0] * 10) == 0.0
    assert stats.spread([float(x) for x in range(1, 11)]) == pytest.approx(5.5 / 5.5)
