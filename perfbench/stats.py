"""Summary statistics for timings: medians and tail percentiles, with the
rule for when a tail percentile has enough samples to report."""

from __future__ import annotations

import statistics

#: Tail percentiles considered, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
#: A percentile is reported only if at least this many samples lie beyond it.
MIN_SAMPLES_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest tail percentile with at least MIN_SAMPLES_BEYOND of ``n``
    samples beyond it, or None when even p75 has too few."""
    for p in TAIL_PERCENTILES:
        per_mille = round(p * 10)
        below = -(-n * per_mille // 1000)  # ceil, in integers
        if n - below >= MIN_SAMPLES_BEYOND:
            return p
    return None


def summarize(xs: list[float]) -> dict:
    """``{"n", "median"}`` plus ``"p<tail>"`` when the sample count allows one."""
    out = {"n": len(xs), "median": median(xs)}
    p = tail_percentile(len(xs))
    if p is not None:
        out[f"p{p:g}"] = percentile(xs, p)
    return out
