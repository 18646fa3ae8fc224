"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math

#: a percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


def median(values) -> float:
    """Median of a non-empty sequence (mean of the middle two when even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    if len(xs) % 2:
        return float(xs[mid])
    return (xs[mid - 1] + xs[mid]) / 2.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError("percentile must be in (0, 100]")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def supported_percentile(n: int) -> int | None:
    """Highest whole percentile above the median that leaves at least
    ``TAIL_SAMPLES`` samples beyond it, or None when ``n`` samples support
    none (fewer than twice ``TAIL_SAMPLES``)."""
    if n < 2 * TAIL_SAMPLES:
        return None
    return int(math.floor(100.0 * (n - TAIL_SAMPLES) / n))


def summarize(values) -> dict:
    """Median, sample count and, where supported, the tail percentile."""
    out = {"median": median(values), "n": len(values)}
    p = supported_percentile(len(values))
    if p is not None and p > 50:
        out["p%d" % p] = percentile(values, p)
    return out

