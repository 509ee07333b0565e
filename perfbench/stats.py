"""The one percentile helper every timing in the benchmark goes through.

The median is always reported.  A tail percentile (above the median)
is reported only when at least ``MIN_BEYOND`` samples lie beyond it, so
a p90 needs 100 samples and a p99 needs 1000.  Every summary carries
its sample count ``n`` next to the values.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

MIN_BEYOND = 10


def _beyond(n: int, q: float) -> int:
    # samples strictly above the nearest rank ceil(q * n)
    return n - max(1, math.ceil(q * n))


def percentile(samples: Iterable[float], q: float) -> float | None:
    """Linear-interpolated percentile ``q`` (0 < q < 1) of ``samples``;
    None for no samples, or for a tail percentile with fewer than
    ``MIN_BEYOND`` samples beyond it."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile must lie in (0, 1), got {q}")
    xs = sorted(samples)
    n = len(xs)
    if n == 0 or (q > 0.5 and _beyond(n, q) < MIN_BEYOND):
        return None
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(samples: Iterable[float], qs: tuple[float, ...] = (0.5, 0.9, 0.99)) -> dict:
    """``{"n": count, "p50": ..., "p90": ...}`` with only the
    percentiles the sample count supports."""
    xs = list(samples)
    out: dict = {"n": len(xs)}
    for q in qs:
        v = percentile(xs, q)
        if v is not None:
            out[f"p{round(q * 100):d}"] = v
    return out


def mean(samples: Iterable[float]) -> float:
    """Arithmetic mean, 0.0 for no samples (a layer that did no work)."""
    xs = list(samples)
    return sum(xs) / len(xs) if xs else 0.0
