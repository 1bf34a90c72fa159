"""The percentile and sample-count rule."""

import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, pct",
    [(1, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        assert round(n * (100 - pct) / 100, 9) >= stats.MIN_BEYOND


def test_percentile_interpolates_between_ranks():
    assert stats.percentile([4.0, 1.0, 3.0, 2.0], 50.0) == 2.5
    assert stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 75.0) == 4.0
    assert stats.percentile([7.0], 99.0) == 7.0


def test_summarize_reports_count_median_and_tail():
    xs = [float(i) for i in range(1, 101)]
    s = stats.summarize(xs)
    assert s["n"] == 100
    assert s["p50"] == 50.5
    assert s["tail_pct"] == 90.0
    assert s["tail"] == pytest.approx(90.1)


def test_summarize_without_enough_samples_has_no_tail():
    s = stats.summarize([1.0, 2.0, 3.0])
    assert s["tail_pct"] is None and s["tail"] is None and s["p50"] == 2.0

