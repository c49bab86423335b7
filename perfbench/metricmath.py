"""Pure metric arithmetic shared by the benchmark worker and tests."""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable, Sequence

#: Percentiles a latency report may use, highest first.
_PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def _position(p: float, n: int) -> float:
    """0-based position of percentile ``p`` among ``n`` sorted samples
    under linear interpolation (rounded, so 99.9 of 10 000 is 9989.001)."""
    return round(p / 100.0 * (n - 1), 9)


def percentile(values: Sequence[float], p: float) -> float:
    """Percentile ``p`` (0-100) of a non-empty sample, interpolating
    linearly between the two nearest ranks; with few samples this moves
    less from run to run than a nearest-rank pick."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    pos = _position(p, len(ordered))
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest of p99.9/p99/p90/p50 that leaves at least ``min_beyond``
    of ``n`` samples above it, or None when even the median does not."""
    for p in _PERCENTILES:
        if n - 1 - math.floor(_position(p, n)) >= min_beyond:
            return p
    return None


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def union_length(
    intervals: Iterable[tuple[float, float]],
    lo: float = -math.inf,
    hi: float = math.inf,
) -> float:
    """Total length covered by ``intervals`` after clipping each to
    [lo, hi]; overlapping intervals count once."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gap_time(start: float, end: float, busy: Iterable[tuple[float, float]]) -> float:
    """Part of [start, end] that no ``busy`` interval covers — for an
    action, its wall time minus the union of its Spark job intervals."""
    return (end - start) - union_length(busy, start, end)


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return gap_time(span[0], span[1], children)


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run spread measure used to judge
    whether a metric is steady enough for its bound."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_METRIC_RE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Numeric total of a formatted Spark SQL metric value, in seconds
    for timings and bytes for sizes: '220 ms' -> 0.22,
    'total (min, med, max ...)\\n5.7 s (1.4 s, ...)' -> 5.7,
    '1,024' -> 1024."""
    last = text.strip().splitlines()[-1]
    m = _METRIC_RE.match(last)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1.0)
