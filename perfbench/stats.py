"""Summary statistics for the benchmark's timings and failure counts."""

from __future__ import annotations

import statistics

# candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest candidate percentile with at least ``beyond`` of ``n``
    samples above it, or None when even p75 has fewer."""
    for p in TAIL_CANDIDATES:
        # rounded: 100 - 99.9 is not exactly 0.1 in binary
        if round(n * (100.0 - p) / 100.0, 6) >= beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default definition)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: {failed} failed of {attempted}")
    return failed / attempted


def ok_ratio(attempted: int, failed: int) -> float:
    return 1.0 - fail_ratio(attempted, failed)


def summarize(values: list[float]) -> dict:
    """Median, tail percentile (when the sample count supports one) and the
    sample count."""
    out = {"n": len(values), "p50": median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out
