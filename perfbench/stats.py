"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """``q``-th percentile (0-100) by linear interpolation between the two
    nearest ranks (NumPy's default method). Raises on an empty input."""
    data = sorted(values)
    if not data:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0-100")
    pos = (len(data) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(data) - 1)
    return data[lo] + (data[hi] - data[lo]) * (pos - lo)


def half_ratio(values) -> float:
    """Median of the second half of a time-ordered sample over the median
    of its first half: above 1 the run slowed down, below 1 it was still
    warming up. A sample of fewer than 4 values gives 1.0."""
    data = list(values)
    if len(data) < 4:
        return 1.0
    mid = len(data) // 2
    return statistics.median(data[mid:]) / statistics.median(data[:mid])

