import statistics

import pytest

from run import end_to_end, hd_median


def test_hd_median_of_symmetric_values_is_the_middle():
    assert hd_median([3.0]) == pytest.approx(3.0)
    assert hd_median([1.0, 2.0]) == pytest.approx(1.5)
    assert hd_median([5.0, 1.0, 3.0, 2.0, 4.0]) == pytest.approx(3.0)


def test_hd_median_moves_smoothly_across_a_gap():
    # the sample median jumps from 1.0 to 2.0 when one value crosses
    # the gap; the estimate moves by a fraction of that
    low = [1.0] * 6 + [1.0] + [2.0] * 6
    high = [1.0] * 6 + [2.0] + [2.0] * 6
    assert statistics.median(high) - statistics.median(low) == 1.0
    assert 0 < hd_median(high) - hd_median(low) < 0.5


def test_end_to_end_takes_each_querys_median_first():
    res = {
        "setup_s": 10.0,
        "first_s": {"a": 1.0, "b": 2.0, "c": 3.0},
        # "a" has one slow pass out of three
        "steady_s": [("a", 0.1), ("b", 0.2), ("c", 0.3), ("a", 9.0), ("b", 0.2),
                     ("c", 0.3), ("a", 0.1), ("b", 0.2), ("c", 0.3)],
        "steady_wall_s": 11.0,
        "failures": {},
        "peak_rss_mb": 100.0,
    }
    m, detail = end_to_end(res, 3)
    assert m["query_s_p50"] == pytest.approx(hd_median([0.1, 0.2, 0.3]))
    assert m["first_run_s_p50"] == pytest.approx(2.0)
    assert m["queries_per_s"] == pytest.approx(9 / 11.0)
    assert detail["steady_samples"] == 9
