import stats


def test_percentile_needs_ten_samples_beyond_it():
    # 40 samples: p75 is the 30th smallest, with exactly 10 beyond it
    xs = list(range(1, 41))
    assert stats.percentile(xs, 75) == 30
    assert stats.percentile(xs[:39], 75) is None  # rank 30, only 9 beyond
    assert stats.percentile(xs, 90) is None       # rank 36, 4 beyond


def test_percentile_is_order_free():
    xs = [5.0, 1.0, 3.0] * 20
    assert stats.percentile(xs, 50) == stats.percentile(sorted(xs), 50) == 3.0


def test_calm_median_keeps_the_less_stolen_half():
    times = [1.0, 5.0, 1.2, 6.0, 1.1]
    steal = [0.0, 2.0, 0.1, 3.0, 0.0]
    # the three samples with least steal are 1.0, 1.1 and 1.2
    assert stats.calm_median(times, steal) == 1.1
    # equal steal everywhere: the plain median
    assert stats.calm_median([3.0, 1.0, 2.0, 9.0], [0, 0, 0, 0]) == 2.5
    # ties with the last kept sample are kept too
    assert stats.calm_median([1.0, 2.0, 3.0, 9.0], [0, 1, 1, 2]) == 2.0
