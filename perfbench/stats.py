"""Pure math shared by the benchmark, its trace summary and the paired
comparison tool: percentiles, span self time and the paired verdict.

Nothing here imports Spark, so the tests in ``test_stats.py`` run in a
plain interpreter.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (0-100) with linear interpolation between
    closest ranks, as ``numpy.percentile``'s default method."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quantile_hd(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-quantile (0 < p < 1): a weighted
    mean of all order statistics, weights from the Beta((n+1)p, (n+1)(1-p))
    distribution. On a handful of samples of mixed request kinds it moves
    less than the two order statistics ``percentile`` interpolates."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    # Beta CDF at i/n by the trapezoid rule on a fine grid
    steps = 4096
    grid = [(j + 0.5) / steps for j in range(steps)]
    dens = [t ** (a - 1) * (1 - t) ** (b - 1) for t in grid]
    total = sum(dens)
    cdf, acc, j = [0.0], 0.0, 0
    for i in range(1, n + 1):
        edge = i / n
        while j < steps and grid[j] < edge:
            acc += dens[j]
            j += 1
        cdf.append(acc / total)
    return sum((cdf[i + 1] - cdf[i]) * xs[i] for i in range(n))


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it among ``n``; None when ``n`` is too small for any."""
    if n <= beyond:
        return None
    return math.floor(100.0 * (n - beyond) / n)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (0 when the median is 0)."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else 0.0


@dataclass(frozen=True)
class Span:
    """One traced interval. ``parent`` is the index of the enclosing span
    in the same list (None for a root); ``request`` groups the spans of
    one client request."""

    name: str
    start: float
    end: float
    parent: int | None
    request: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's self time: at every instant, the time goes to the
    active spans that have no active child, split evenly when several run
    at once (spans of parallel threads under one parent). For nested
    spans of one thread this is the duration minus the children's; either
    way the self times of a request's spans add up to the time its spans
    cover."""
    events = []
    for i, s in enumerate(spans):
        if s.end > s.start:
            events.append((s.start, 1, i))
            events.append((s.end, 0, i))   # ends sort before starts
    events.sort()
    out = [0.0] * len(spans)
    active_kids = [0] * len(spans)
    active: set[int] = set()
    leaves: set[int] = set()
    last = None
    for t, kind, i in events:
        if leaves and last is not None and t > last:
            share = (t - last) / len(leaves)
            for j in leaves:
                out[j] += share
        last = t
        p = spans[i].parent
        if kind == 1:
            active.add(i)
            leaves.add(i)
            if p is not None:
                active_kids[p] += 1
                leaves.discard(p)
        else:
            active.discard(i)
            leaves.discard(i)
            if p is not None:
                active_kids[p] -= 1
                if active_kids[p] == 0 and p in active:
                    leaves.add(p)
    return out


# ---------------------------------------------------------------------------
# paired comparison (parent against change)
# ---------------------------------------------------------------------------

WIN_SHARE_TO_CLAIM = 0.9


@dataclass(frozen=True)
class Verdict:
    parent_quartiles: tuple[float, float, float]
    change_quartiles: tuple[float, float, float]
    win_share: float
    verdict: str  # improved | unchanged | unresolved | regressed


def compare_metric(parent: list[float], change: list[float], *,
                   better: str, bound: float | None) -> Verdict:
    """Judge one metric over paired runs (``parent[i]`` ran next to
    ``change[i]``).

    - ``improved``: the change wins at least nine tenths of the pairs
      (ties count for neither side) and the medians differ by more than
      the parent's own quartile distance;
    - ``regressed``: the change's median is worse than the parent's by
      more than ``bound`` (a share of the parent's median);
    - ``unresolved``: the parent's own spread is wider than ``bound`` and
      not every change run beats every parent run;
    - ``unchanged`` otherwise.

    Metrics without a bound (per-layer ones) are never ``regressed`` or
    ``unresolved``."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same, non-zero number of runs per side")
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be lower or higher, got {better!r}")
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    share = wins / len(parent)
    pq, cq = quartiles(parent), quartiles(change)
    gain = sign * (cq[1] - pq[1])
    if share >= WIN_SHARE_TO_CLAIM and gain > pq[2] - pq[0]:
        verdict = "improved"
    elif bound is not None and -gain > bound * abs(pq[1]):
        verdict = "regressed"
    elif (bound is not None and relative_spread(parent) > bound
          and min(sign * c for c in change) <= max(sign * p for p in parent)):
        verdict = "unresolved"
    else:
        verdict = "unchanged"
    return Verdict(pq, cq, share, verdict)
