"""Spark-free arithmetic shared by the benchmark and its tests.

- :func:`tail_level` / :func:`summarize`: a timing is reported as its
  median plus the highest percentile that still has at least
  ``MIN_BEYOND`` samples above it, with the sample count.
- :func:`self_totals`: a span's self time is its duration minus the
  durations of its direct children (and likewise for counters).
- :func:`stride_sample`: the family-stratified query sample.
- :func:`spread`: interquartile range over median, the steadiness
  figure the benchmark is judged by.
"""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only if this many samples lie beyond it
MIN_BEYOND = 10
#: candidate tail levels, highest first
TAIL_LEVELS = (0.99, 0.95, 0.90, 0.85, 0.80, 0.75, 0.70, 0.65, 0.60, 0.55, 0.50)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    ``p`` share of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``p`` percentile."""
    return n - max(1, math.ceil(p * n))


def tail_level(n: int) -> float | None:
    """Highest level in :data:`TAIL_LEVELS` with at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it; None when even the
    median has fewer (fewer than 20 samples have no tail)."""
    for p in TAIL_LEVELS:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, tail and count of ``values``."""
    level = tail_level(len(values))
    return {
        "p50": statistics.median(values),
        "tail": None if level is None else percentile(values, level),
        "tail_level": level,
        "n": len(values),
    }


def self_totals(spans: list[dict], begin: str = "start", end: str = "end") -> dict[str, float]:
    """Sum of self amounts per span name.  Each span is a dict with
    ``id``, ``name``, ``parent`` (an id or None) and a quantity read at
    both ends (``begin`` / ``end``: the clock by default, or e.g. the
    Spark job counter); self amount = (end - begin) - the sum of its
    direct children's (end - begin)."""
    child_total: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] = child_total.get(s["parent"], 0) + s[end] - s[begin]
    out: dict[str, float] = {}
    for s in spans:
        own = s[end] - s[begin] - child_total.get(s["id"], 0)
        out[s["name"]] = out.get(s["name"], 0) + own
    return out


def family(name: str) -> str:
    return name.split("_", 1)[0]


def stride_sample(names: list[str], offset: int, stride: int) -> list[str]:
    """Every ``stride``-th query of the family-ordered name list, from
    ``offset`` (taken modulo the stride).  Ordering by (family, name)
    first makes the systematic sample stratified: each family
    contributes about ``len(family) / stride`` queries whatever the
    offset.  The result is in sorted-name order, the order the workload
    runs it in."""
    ordered = sorted(names, key=lambda n: (family(n), n))
    return sorted(ordered[offset % stride :: stride])


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
