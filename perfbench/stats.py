"""Percentiles, the sample-count rule, slot weighting over an op mix,
and interval arithmetic for span self time. Pure Python, no Spark."""

from __future__ import annotations

import statistics

# A tail percentile is reported only when at least this many samples
# lie beyond it; below that a single outlier decides its value.
MIN_BEYOND = 10
TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_tail(n: int) -> float | None:
    """The highest tail percentile with at least MIN_BEYOND of ``n``
    samples beyond it, or None (report the median alone)."""
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p
    return None


def summarize(values) -> dict:
    """Median plus the reportable tail percentile, with the count."""
    xs = list(values)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    tail = reportable_tail(len(xs))
    if tail is not None:
        out[f"p{tail:g}"] = percentile(xs, tail)
    return out


def slot_weighted(per_kind: dict, slots, center=statistics.median):
    """``center`` of each kind's values, averaged over ``slots`` (a
    fixed op mix naming one kind per slot), so a kind counts by its
    share of the mix and not by how many samples a run happened to
    take of it. None until every kind of the mix has a value."""
    if any(not per_kind.get(k) for k in slots):
        return None
    return sum(center(per_kind[k]) for k in slots) / len(slots)


def iqr_share(values) -> float:
    """(Q3 - Q1) / median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    end = None
    start = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            if end is not None:
                total += end - start
            start, end = s, e
        else:
            end = max(end, e)
    if end is not None:
        total += end - start
    return total
