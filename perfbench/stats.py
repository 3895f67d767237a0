"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only when at least this many samples lie
#: strictly beyond it.
MIN_TAIL = 10


def median(values) -> float:
    return float(statistics.median(values))


def calm_median(values, steal) -> float:
    """Median of ``values`` over the half of the samples (rounded up)
    during which the host stole the least CPU from this box, together
    with every sample that stole no more than the last of that half.

    On a shared host a neighbour's burst slows every operation it
    overlaps; choosing samples by the steal the kernel reports, never by
    their own value, keeps the statistic about this program.  With equal
    steal everywhere this is the plain median.
    """
    cut = sorted(steal)[(len(values) - 1) // 2]
    return median([v for v, s in zip(values, steal) if s <= cut])


def percentile(values, p: float) -> float | None:
    """The ``p``-th percentile (nearest rank), or None when fewer than
    ``MIN_TAIL`` samples lie beyond it.

    With n samples the nearest-rank p-th percentile is the
    ceil(p/100 * n)-th smallest; the samples beyond it are the rest.
    """
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    if len(xs) - rank < MIN_TAIL:
        return None
    return float(xs[rank - 1])
