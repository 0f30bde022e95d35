"""Latency summaries under the benchmark's percentile rule.

A timing is reported as its median plus the highest percentile that
has at least ``MIN_BEYOND`` samples beyond it; a tail percentile
estimated from fewer samples is noise, so it is not reported at all.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10

#: tail percentiles considered, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the ``p``-th percentile of ``n`` samples
    (rounded first, so that 99.9 % of 10,000 is rank 9,990)."""
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def samples_beyond(n: int, p: float) -> int:
    """Number of the ``n`` samples that lie strictly above the ``p``-th
    percentile (nearest-rank definition)."""
    return n - _rank(n, p)


def percentile(samples, p: float) -> float:
    """Nearest-rank ``p``-th percentile of a non-empty sample."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return xs[_rank(len(xs), p) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest percentile in :data:`TAIL_CANDIDATES` with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it, or ``None``."""
    for p in TAIL_CANDIDATES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summarize(samples, prefix: str, unit: str = "ms") -> dict:
    """``{prefix_p50_<unit>: median, prefix_p<tail>_<unit>: value,
    prefix_n: count}``; the tail key is present only when the rule
    allows it."""
    xs = list(samples)
    out: dict = {f"{prefix}_n": len(xs)}
    if not xs:
        return out
    out[f"{prefix}_p50_{unit}"] = statistics.median(xs)
    p = tail_percentile(len(xs))
    if p is not None and p > 50.0:
        label = f"{p:g}".replace(".", "_")
        out[f"{prefix}_p{label}_{unit}"] = percentile(xs, p)
    return out
