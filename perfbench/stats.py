"""Statistics helpers: percentiles, the tail rule, span self time,
driver-gap attribution and a repetition trend check."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it:
    (value, percentile). When that percentile would not lie above the
    median (fewer than ``2 * beyond + 2`` samples) the sample cannot
    support it, and the interpolated 90th percentile is returned
    instead: unlike the maximum, it averages the top two samples of a
    small sample rather than resting on one."""
    n = len(values)
    xs = sorted(values)
    idx = n - 1 - beyond
    if 2 * idx <= n - 1:
        return percentile(xs, 90.0), 90.0
    return xs[idx], 100.0 * idx / (n - 1)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quantile method."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float] | None:
    a, b = max(iv[0], lo), min(iv[1], hi)
    return (a, b) if b > a else None


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    children: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: dict[int, Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    out = {}
    for s in spans.values():
        kids = [
            c for c in (clip((spans[k].start, spans[k].end), s.start, s.end)
                        for k in s.children)
            if c
        ]
        out[s.sid] = s.wall - union_length(kids)
    return out


def driver_gaps(
    spans: dict[int, Span], jobs: dict[int, list[tuple[float, float]]]
) -> dict[int, float]:
    """Self time of each span not covered by any Spark job attributed to
    it (``jobs`` maps span id to job intervals): Python, planning and
    result collection on the driver."""
    selfs = self_times(spans)
    out = {}
    for s in spans.values():
        own = [
            c for c in (clip(iv, s.start, s.end) for iv in jobs.get(s.sid, []))
            if c
        ]
        kids = [(spans[k].start, spans[k].end) for k in s.children]
        # Job time inside a child span belongs to the child already.
        covered = union_length(own + kids) - union_length(kids)
        out[s.sid] = max(0.0, selfs[s.sid] - covered)
    return out


def trend(times: list[float], threshold: float = 0.05) -> float | None:
    """Relative growth per repetition (least-squares slope over the
    mean) when it exceeds ``threshold``; None for a flat series."""
    n = len(times)
    if n < 3:
        return None
    mx = (n - 1) / 2.0
    my = sum(times) / n
    num = sum((i - mx) * (t - my) for i, t in enumerate(times))
    den = sum((i - mx) ** 2 for i in range(n))
    rel = num / den / my if my else 0.0
    return rel if abs(rel) > threshold else None
