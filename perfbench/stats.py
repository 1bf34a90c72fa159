"""Summary statistics for the benchmark's timings.

A timing is reported as its median plus the highest percentile of
:data:`LADDER` that still has at least :data:`MIN_BEYOND` samples beyond
it, together with the sample count — a p99 over 50 samples would be one
sample deep and mean nothing.
"""

from __future__ import annotations

#: Tail percentiles considered, lowest first.
LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)

#: Samples a reported percentile must have strictly beyond it.
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND of ``n`` samples
    beyond it, or None when even the lowest rung is too shallow."""
    best = None
    for pct in LADDER:
        if round(n * (100.0 - pct) / 100.0, 9) >= MIN_BEYOND:
            best = pct
    return best


def summarize(values: list[float]) -> dict:
    """``{"n", "p50", "tail_pct", "tail"}`` for one timing series."""
    pct = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50.0),
        "tail_pct": pct,
        "tail": None if pct is None else percentile(values, pct),
    }

