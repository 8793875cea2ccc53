"""Summary statistics shared by the worker and its tests."""

from __future__ import annotations

BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that leaves at least ``BEYOND``
    samples above it: ``(value, percentile, n)``.

    With n sorted samples that is the (n - BEYOND)-th smallest, at
    percentile 100 * (n - BEYOND) / n. Fewer than ``BEYOND + 1`` samples
    leave no such percentile; the maximum is returned, at percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= BEYOND:
        return xs[-1], 100.0, n
    return xs[n - BEYOND - 1], 100.0 * (n - BEYOND) / n, n
