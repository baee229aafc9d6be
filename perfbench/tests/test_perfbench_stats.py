import pytest

from perfbench import stats


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 10) is None
    t = stats.tail([float(i) for i in range(1, 12)])  # 11 samples
    assert (t.value, t.beyond) == (1.0, 10)
    assert t.percentile == pytest.approx(100 / 11)


def test_tail_is_rank_n_minus_ten():
    samples = [float(i) for i in range(100, 0, -1)]  # unsorted input
    t = stats.tail(samples)
    assert t.value == 90.0  # ten samples (91..100) lie beyond it
    assert t.beyond == 10
    assert t.percentile == 90.0


def test_summarize_reports_count_and_missing_tail():
    s = stats.summarize([2.0, 1.0, 3.0])
    assert s == {"p50": 2.0, "tail": None, "tail_percentile": None, "samples": 3}
    s = stats.summarize([float(i) for i in range(1, 41)])
    assert (s["tail"], s["tail_percentile"], s["samples"]) == (30.0, 75.0, 40)


def test_unstolen_scales_by_the_share_not_stolen():
    # 300 jiffies busy and 100 stolen: a quarter of the CPU time was taken
    assert stats.unstolen(2.0, (1000, 50, 0), (1300, 150, 0)) == 1.5
    assert stats.unstolen(2.0, (1000, 50, 0), (1400, 50, 0)) == 2.0
    assert stats.unstolen(2.0, (1000, 50, 0), (1000, 50, 0)) == 2.0  # idle machine
