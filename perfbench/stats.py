"""Order statistics shared by the workloads."""

from __future__ import annotations

import statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-int(q * len(s)) // 100) - 1))
    return float(s[k])
