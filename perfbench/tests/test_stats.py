from __future__ import annotations

import numpy as np
import pytest

from run import MIN_OPS, TAIL_P
from stats import BEYOND, median, min_samples, percentile


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = list(rng.exponential(1.0, 57))
    for p in (0, 10, 50, 75, 90, 99, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_named_tail_has_ten_samples_beyond_it_from_min_ops_on():
    """The tail rule as run.py applies it: every run reports
    ``percentile(latencies, TAIL_P)`` over at least ``MIN_OPS`` samples."""
    assert MIN_OPS == min_samples(TAIL_P)
    for n in range(MIN_OPS, 10 * MIN_OPS):
        xs = list(range(n))
        cut = percentile(xs, TAIL_P)
        assert sum(x > cut for x in xs) >= BEYOND, n


def test_min_samples_is_the_rule_solved_for_n():
    assert min_samples(66.0) == 30
    assert min_samples(75.0) == 40
    assert min_samples(90.0) == 100
    # one sample fewer leaves under ten beyond the percentile
    for p in (66.0, 75.0, 90.0):
        n = min_samples(p)
        beyond = round(n * (1 - p / 100), 9)
        assert beyond - (1 - p / 100) < BEYOND <= beyond
