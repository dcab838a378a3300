"""The tail statistic the benchmark reports beside each median."""

from __future__ import annotations

MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``MIN_BEYOND`` samples
    above it, as ``(percentile, value)``: the sample at sorted index
    ``n - MIN_BEYOND - 1`` and the share of samples at or below it. ``None``
    when there are too few samples for any such percentile."""
    n = len(values)
    if n <= MIN_BEYOND:
        return None
    idx = n - MIN_BEYOND - 1
    return 100.0 * (idx + 1) / n, sorted(values)[idx]
