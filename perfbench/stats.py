"""Order statistics for the benchmark's reports.

A timing is reported as its median and one fixed tail percentile. The
tail rule: the highest percentile that still has at least ten samples
beyond it. With ``n`` samples that is ``100 * (1 - 10 / n)``; a workload
guarantees ``n >= min_samples(p)`` so that its named tail percentile
(``op_p66_ms`` -> 66) obeys the rule in every run.
"""

from __future__ import annotations

import math

BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def min_samples(p: float) -> int:
    """Fewest samples for which percentile ``p`` has ``BEYOND`` beyond it."""
    # round first: 1 - 0.9 is not exactly 0.1 in binary floating point
    return math.ceil(round(BEYOND * 100.0 / (100.0 - p), 9))
