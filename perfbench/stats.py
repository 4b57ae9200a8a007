"""Small summary statistics shared by the runner and the tracer."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, sample count). With n sorted samples the value
    is the (n - beyond)-th smallest, so exactly `beyond` samples lie beyond it,
    and the percentile is 100 * (n - beyond) / n. With `beyond` samples or
    fewer no such percentile exists: the result is (100.0, max, n), the
    largest sample, which the caller must report as a maximum.
    """
    s = sorted(float(v) for v in samples)
    n = len(s)
    if n == 0:
        raise ValueError("tail_percentile needs at least one sample")
    if n <= beyond:
        return 100.0, s[-1], n
    k = n - beyond  # 1-based rank of the reported sample
    return 100.0 * k / n, s[k - 1], n

