"""Summary statistics and span arithmetic for the benchmark.

Pure functions with no Spark dependency, so the benchmark's own tests can
exercise them directly.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

MIN_BEYOND = 10
TOP_PERCENTILE = 99


def tail(values: list[float]) -> dict:
    """The highest percentile (up to p99, nearest rank) that has at least
    ten samples beyond it, but never below the median.

    Returns ``{"value", "pct", "beyond", "n"}`` so the percentile and its
    sample counts are recorded with the value. With 20 samples or fewer no
    percentile above the median has ten beyond it, and the tail is the
    sample just above the middle (``beyond`` then shows fewer than ten).
    """
    if not values:
        raise ValueError("tail of an empty sample")
    ordered = sorted(values)
    n = len(ordered)
    rank = max(n // 2 + 1, min(n - MIN_BEYOND, math.ceil(TOP_PERCENTILE / 100 * n)))
    return {"value": ordered[rank - 1], "pct": f"p{round(100 * rank / n)}",
            "beyond": n - rank, "n": n}


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)


def shape_p50(by_shape: dict[str, list[float]]) -> float:
    """Each statement shape's median latency, averaged over the shapes.

    A median pooled over different shapes falls between two shapes' cost
    levels and jumps with the mix a window happens to hold; every shape
    weighing the same keeps the figure independent of the mix."""
    if not by_shape:
        raise ValueError("no shapes")
    return statistics.fmean(median(v) for v in by_shape.values())


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover. Spans are dicts with ``id``, ``parent``,
    ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children[s["id"]], s["start"], s["end"])
        for s in spans
    }


def layer_self_times(spans: list[dict], layer_of) -> dict[str, float]:
    """Total self time per layer; ``layer_of(span)`` names a span's layer."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[layer_of(s)] += own[s["id"]]
    return dict(out)
