import numpy as np
import pytest

from stats import percentile, summary, tail_percentile


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_leaves_at_least_ten_samples_above_it():
    for n in range(20, 3000, 37):
        p = tail_percentile(n)
        values = list(range(n))
        assert sum(v > percentile(values, p) for v in values) >= 10


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.random(57).tolist()
    for p in (0, 12.5, 50, 90, 99.9, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_summary_reports_count_and_omits_unsupported_tail():
    s = summary([0.3, 0.1, 0.2])
    assert s == {"n": 3, "p50": 0.2, "tail_p": None, "tail": None}
    s = summary([float(i) for i in range(200)])
    assert s["n"] == 200 and s["tail_p"] == 95.0
    assert s["tail"] == pytest.approx(np.percentile(range(200), 95))
    assert summary([])["n"] == 0

