"""The percentile rule: report a tail percentile only when at least ten
samples lie beyond it."""

import pytest

from perfbench.percentiles import percentile, samples_beyond, summarize, tail_percentile


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, None),
        (19, None),  # the median has only 9 samples beyond it
        (20, 50.0),
        (40, 75.0),
        (99, 75.0),  # p90 would have 9 beyond
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_needs_ten_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert samples_beyond(n, expected) >= 10


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_tail_only_when_allowed():
    small = summarize([float(x) for x in range(15)], "search")
    assert small == {"search_n": 15, "search_p50_ms": 7.0}
    big = summarize([float(x) for x in range(100)], "serve")
    assert big["serve_n"] == 100
    assert big["serve_p50_ms"] == 49.5
    assert big["serve_p90_ms"] == 89.0
    assert not any(k.startswith("serve_p95") for k in big)
    assert summarize([], "x") == {"x_n": 0}
