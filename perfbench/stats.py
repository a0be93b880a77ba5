"""Latency summaries for the benchmark's reports."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail_supported(n: int, q: float) -> bool:
    """True when at least ``TAIL_MIN_BEYOND`` of ``n`` samples lie
    beyond the nearest-rank ``q`` percentile."""
    return n - math.ceil(q * n) >= TAIL_MIN_BEYOND


def summarize(values, tail: float = 0.9) -> dict[str, float]:
    """``{"n", "p50"}`` plus ``"p<tail>"`` only where the sample
    supports that tail."""
    xs = list(values)
    out = {"n": len(xs)}
    if xs:
        out["p50"] = statistics.median(xs)
        if tail_supported(len(xs), tail):
            out[f"p{round(tail * 100)}"] = percentile(xs, tail)
    return out
