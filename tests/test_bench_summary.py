"""bench.py's sampling loop on scripted arms, and its run summary on
synthetic timings: true medians for an even number of samples, every
regressed row on the final line, and that line under its size cap."""

import json

import bench


def _timings(n: int) -> dict[str, float]:
    return {f"q{i:02d}": round(10.0 - 0.2 * i, 4) for i in range(n)}


def test_run_median_load_is_the_true_median_for_even_n():
    # loads 1, 2, 3, 4: the median is 2.5, not the upper-middle 3.0, so
    # the 4.0 row is noisy (> 1.5 × 2.5) where it was not (≤ 1.5 × 3.0)
    timings = _timings(4)
    spreads = {n: {"load1": l1} for n, l1 in zip(timings, (1.0, 2.0, 3.0, 4.0))}
    prev = {"q03": timings["q03"] / 2}
    full, _line = bench._summarize(timings, spreads, prev, 0.1, None)
    assert full["run_median_load1"] == 2.5
    assert full["regressions"]["q03"]["noisy"] is True


def test_summary_shows_top_rows_and_every_regression_under_the_cap():
    timings = _timings(40)
    prev = {"q30": timings["q30"] / 2}  # regressed, far outside the top 15
    full, line = bench._summarize(timings, {}, prev, 0.1, "BENCH_r14.json")
    assert len(line) < bench.SUMMARY_MAX_CHARS
    summary = json.loads(line)
    shown = summary["queries"]
    assert set(shown) == {f"q{i:02d}" for i in range(bench.SUMMARY_ROWS)} | {"q30"}
    assert summary["regressions"] == full["regressions"]
    assert set(full["regressions"]) == {"q30"}
    assert full["queries"] == timings


def test_summary_stays_under_the_cap_when_everything_regressed():
    timings = {f"a_rather_long_query_name_{i:03d}": 5.0 + i for i in range(200)}
    prev = {n: t / 2 for n, t in timings.items()}
    _full, line = bench._summarize(timings, {}, prev, 0.1, None)
    assert len(line) < bench.SUMMARY_MAX_CHARS
    summary = json.loads(line)
    assert summary["n_regressions"] == 200
    assert summary["queries"]  # the slowest rows survive the trim
    slowest = max(timings, key=timings.get)
    assert slowest in summary["queries"]


def test_interleave_warms_each_arm_then_alternates_and_takes_true_medians():
    calls: list[str] = []

    def arm(label: str, times: list[float]):
        script = iter(times)

        def sample() -> float:
            calls.append(label)
            return next(script)

        return sample

    # first value of each script is the discarded warmup
    a = arm("A", [99.0, 3.0, 1.0, 2.0])
    b = arm("B", [0.0, 5.0, 9.0, 7.0])
    (a_med, a_spread), (b_med, b_spread) = bench._interleave([a, b])
    assert calls == ["A", "B", "A", "B", "A", "B", "A", "B"]
    assert (a_med, b_med) == (2.0, 7.0)
    assert (a_spread["min"], a_spread["med"], a_spread["max"]) == (1.0, 2.0, 3.0)
    assert (b_spread["min"], b_spread["med"], b_spread["max"]) == (5.0, 7.0, 9.0)
