"""Tests of the benchmark's metric arithmetic: python3 -m pytest perfbench"""

import pytest

from perfbench import stats


def test_percentile_needs_ten_samples_beyond():
    # 100 samples: the 90th percentile has exactly 10 beyond it.
    samples = [float(i) for i in range(1, 101)]
    assert stats.supported_percentile(samples, 90) == 90.0
    # 99 samples: rank 90 leaves only 9 beyond, so it is not reported.
    assert stats.supported_percentile(samples[:99], 90) is None
    # 50 samples support the median (25 beyond) but not the 90th.
    assert stats.supported_percentile(samples[:50], 50) == 25.0
    assert stats.supported_percentile(samples[:50], 90) is None


def test_percentile_ignores_sample_order():
    assert stats.nearest_rank([3.0, 1.0, 2.0, 5.0, 4.0], 50) == (3.0, 2)


def test_highest_supported_percentile():
    samples = [float(i) for i in range(1, 201)]
    # 200 samples: p95 leaves 10 beyond, p99 only 2.
    assert stats.highest_supported_percentile(samples) == (95, 190.0)
    assert stats.highest_supported_percentile(samples[:15]) is None


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.nearest_rank([], 50)
    with pytest.raises(ValueError):
        stats.nearest_rank([1.0], 100)


def test_error_rate():
    assert stats.error_rate(0, 40) == 0.0
    assert stats.error_rate(3, 40) == 0.075
    assert stats.error_rate(40, 40) == 1.0
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(5, 4)


def test_rows_per_s_divides_by_summed_wall():
    assert stats.rows_per_s(60_000, [1.0, 2.0, 3.0]) == 10_000.0
    with pytest.raises(ValueError):
        stats.rows_per_s(10, [])


def test_start_stop_ms_subtracts_trigger_time():
    progress = [
        {"durationMs": {"triggerExecution": 1200, "addBatch": 900}},
        {"durationMs": {"triggerExecution": 300}},
        {},  # a record without durations counts for nothing
    ]
    assert stats.start_stop_ms(2.0, progress) == pytest.approx(500.0)
    assert stats.start_stop_ms(0.25, []) == pytest.approx(250.0)


def test_pass_order_is_a_seeded_permutation():
    units = list(range(10))
    a = stats.pass_order(units, seed=7, pass_index=1)
    assert sorted(a) == units
    assert a == stats.pass_order(units, seed=7, pass_index=1)
    assert units == list(range(10))  # input left as it was
    # Other seeds and other passes give other orders.
    others = {tuple(stats.pass_order(units, s, p)) for s in range(5) for p in range(3)}
    assert len(others) > 10


def test_op_p50_is_the_median_of_per_op_medians():
    samples = [("fit", 6.0), ("eval", 0.5), ("fit", 7.0), ("eval", 0.4), ("fit", 6.5)]
    # fit 6.5, eval 0.45 -> the middle of the two.
    assert stats.op_p50(samples) == pytest.approx(3.475)
    three = [("a", 1.0), ("b", 2.0), ("b", 2.2), ("c", 9.0), ("c", 3.0), ("c", 8.0)]
    assert stats.op_p50(three) == 2.1
    with pytest.raises(ValueError):
        stats.op_p50([])


def test_typical_pass_sums_per_op_medians():
    samples = [("fit", 6.0), ("eval", 0.5), ("fit", 9.0), ("eval", 0.4),
               ("fit", 6.5), ("eval", 3.0)]
    # Pass totals 6.5, 9.4, 9.5 would give 9.4; per-op medians 6.5 + 0.5.
    assert stats.typical_pass(samples) == pytest.approx(7.0)


def test_fits_window_starts_only_passes_that_end_in_time():
    assert stats.fits_window(0.0, [], 1.0)
    assert stats.fits_window(20.0, [4.0, 5.0, 6.0], 25.0)
    assert not stats.fits_window(20.5, [4.0, 5.0, 6.0], 25.0)
