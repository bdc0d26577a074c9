"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics

# percentiles a tail may be reported at, lowest first
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def nearest_rank(values: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank ``p``-th percentile of ``values`` and how many samples
    rank strictly beyond it."""
    xs = sorted(values)
    # rounded first: 99.9/100*10000 is 9990.000000000002 in floating point
    k = max(1, math.ceil(round(p / 100.0 * len(xs), 9)))
    return xs[k - 1], len(xs) - k


def tail(values: list[float]) -> dict:
    """The highest percentile of ``TAIL_GRID`` with at least ten samples
    beyond it. ``value`` and ``percentile`` are None when no percentile
    qualifies (fewer than 20 samples); ``samples`` is always the count."""
    best = {"value": None, "percentile": None, "beyond": None, "samples": len(values)}
    for p in TAIL_GRID:
        if not values:
            break
        v, beyond = nearest_rank(values, p)
        if beyond < MIN_BEYOND:
            break
        best = {"value": v, "percentile": p, "beyond": beyond, "samples": len(values)}
    return best


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def spread(values: list[float]) -> dict:
    """Median, quartiles and the quartile distance as a share of the
    median — the steadiness figure the benchmark's bounds are set against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / q2 if q2 else None}


def summarize(ops: list) -> dict:
    """Per-kind medians and tails of the operations' walls, and items per
    second over their summed wall. A tail is the ``tail`` dict, in ms."""
    out = {}
    for kind in ("commit", "feed", "lookup"):
        walls = [op.wall * 1000.0 for op in ops if op.kind == kind]
        out[f"{kind}_p50_ms"] = median(walls)
        out[f"{kind}_tail_ms"] = tail(walls)
    items = sum(op.items for op in ops if op.kind == "commit")
    wall = sum(op.wall for op in ops)
    out["window_s"] = wall
    out["items_per_s"] = items / wall if wall else None
    return out
