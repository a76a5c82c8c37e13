"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it; below that it is mostly the single slowest sample.
MIN_TAIL = 10


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (0 < p < 100) of ``values``.

    Raises ``ValueError`` when fewer than ``MIN_TAIL`` samples lie above
    it, so that a tail figure is never read off a handful of runs.
    """
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(values)
    beyond = math.floor(n * (100 - p) / 100)
    if beyond < MIN_TAIL:
        raise ValueError(
            f"p{p:g} of {n} samples has {beyond} beyond it; needs {MIN_TAIL}"
        )
    return statistics.quantiles(values, n=100, method="inclusive")[round(p) - 1]


def highest_percentile(n: int) -> int | None:
    """Highest whole percentile of ``n`` samples that ``percentile``
    allows, or None when there is none."""
    p = math.floor(100 - 100 * MIN_TAIL / n) if n else 0
    while p > 0 and math.floor(n * (100 - p) / 100) < MIN_TAIL:
        p -= 1
    return p if p > 0 else None


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))
