"""The tail percentile the runner reports."""

from __future__ import annotations

TAIL_ABOVE = 10  # samples that must lie above the reported tail


def tail(xs: list[float], above: int = TAIL_ABOVE) -> tuple[float, float]:
    """The highest percentile that has at least ``above`` samples above
    it, as ``(percentile, value)``.

    With ``n`` sorted samples that is the sample at 0-based index
    ``n - above - 1``: ``n - above`` samples lie at or below it, which
    makes it the ``100 * (n - above) / n`` percentile."""
    n = len(xs)
    if n <= above:
        raise ValueError(f"{n} samples cannot leave {above} above a percentile")
    k = n - above - 1
    return 100.0 * (k + 1) / n, sorted(xs)[k]
