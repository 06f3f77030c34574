"""The tail-percentile rule and the summary the runner prints."""

import random

import pytest

import stats


def test_tail_has_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    random.Random(0).shuffle(xs)
    value, pct = stats.tail(xs)
    assert pct == 90.0
    assert sum(x > value for x in xs) == stats.TAIL_BEYOND


@pytest.mark.parametrize("n", [20, 37, 250, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    value, pct = stats.tail(xs)
    assert sum(x > value for x in xs) == stats.TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    assert pct >= 50.0


@pytest.mark.parametrize("n,beyond", [(2, 1), (4, 1), (8, 2), (19, 4)])
def test_tail_below_twenty_samples_is_the_upper_quartile(n, beyond):
    xs = [float(i) for i in range(n)]
    random.Random(n).shuffle(xs)
    value, pct = stats.tail(xs)
    assert sum(x > value for x in xs) == beyond
    assert pct == pytest.approx(100.0 * (n - beyond) / n)


def test_tail_of_one_or_no_samples():
    assert stats.tail([3.0]) == (3.0, 100.0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_runner_reports_sample_count_and_percentile():
    import run

    # canaries exactly at reference speed: reported == measured
    ref = run.REF_CANARY_S
    res = {"lat": [float(i) for i in range(1, 41)], "rows": [10] * 40,
           "errors": ["x"], "setup_s": 1.0, "peak_rss_mb": 5.0,
           "stored_bytes_per_live_byte": 1.0, "canary": [(ref, ref)] * 3}
    metrics, raw, info = run._e2e(res)
    assert info["samples"] == 40
    assert info["tail_percentile"] == 75.0
    assert metrics["op_s.tail"] == pytest.approx(30.0) == raw["op_s.tail"]
    assert info["failed_ops_frac"] == 1 / 40
    assert info["peak_rss_mb"] == 5.0
    assert metrics["input_rows_per_s"] == pytest.approx(400 / sum(res["lat"]))


def test_slow_host_scales_timings_to_reference_speed():
    import run

    ref = run.REF_CANARY_S
    # both canaries twice as slow as on the reference host
    res = {"lat": [2.0, 4.0, 6.0], "rows": [10] * 3, "errors": [],
           "setup_s": 30.0, "peak_rss_mb": 1.0,
           "stored_bytes_per_live_byte": 3.0,
           "canary": [(2 * ref, 2 * ref), (2 * ref, 2 * ref)]}
    metrics, raw, _info = run._e2e(res)
    assert raw["op_s.p50"] == 4.0
    assert metrics["op_s.p50"] == pytest.approx(2.0)
    assert metrics["setup_s"] == pytest.approx(15.0)
    assert metrics["input_rows_per_s"] == pytest.approx(2 * 30 / 12.0)
    assert metrics["stored_bytes_per_live_byte"] == 3.0
