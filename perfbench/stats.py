"""Pure summary helpers: medians, the tail-percentile rule, geometric means,
quartile spreads and span self time."""

from __future__ import annotations

import math
import statistics

#: percentiles a tail may be reported at, highest last
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)
#: samples that must lie beyond a reported percentile
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def _rank(p: float, n: int) -> int:
    """Nearest rank: the smallest rank with at least p% of n samples at or
    below it (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even the median lacks them."""
    best = None
    for p in TAIL_LADDER:
        if n and n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        raise ValueError("percentile of no samples")
    return float(sorted(values)[_rank(p, len(values)) - 1])


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) per the tail rule; (None, None) if unsupported."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, None)


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover. Spans are dicts with ``id``, ``parent``, ``start``, ``end``."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (hi - lo) - covered
    return out
