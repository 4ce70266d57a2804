"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only when at least this many samples lie
#: beyond it, so that one slow sample cannot set it alone.
TAIL_SAMPLES = 10
_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(n: int) -> float | None:
    """Highest of the usual percentiles above the median with at least
    ``TAIL_SAMPLES`` of ``n`` samples beyond it, or None when even p75 is
    unsupported."""
    for p in _PERCENTILES:
        if round(n * (100 - p), 6) >= TAIL_SAMPLES * 100:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def summarize(values) -> dict:
    """Median, the highest supported tail percentile (None when the sample
    count supports none) and the sample count."""
    xs = list(values)
    p = tail_percentile(len(xs))
    return {
        "median": statistics.median(xs),
        "tail_p": p,
        "tail": percentile(xs, p) if p is not None else None,
        "n": len(xs),
    }


def quartile_spread(values) -> float:
    """(q3 - q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
