"""Percentiles over latency samples.

A tail percentile is only reported when at least ``MIN_BEYOND`` samples
lie beyond it; :func:`tail_percentile` picks the highest rung of
``LADDER`` that the sample count supports.
"""

from __future__ import annotations

import math
from fractions import Fraction
from typing import Optional, Sequence

LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> Optional[float]:
    """Highest percentile in ``LADDER`` with >= ``MIN_BEYOND`` of ``n``
    samples strictly beyond it, or ``None`` when even p50 has too few."""
    for p in LADDER:
        if n * (100 - Fraction(str(p))) / 100 >= MIN_BEYOND:
            return p
    return None


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
