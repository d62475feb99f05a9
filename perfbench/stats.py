"""Arithmetic the benchmark reports: percentiles under the
ten-samples-beyond rule, failure shares and per-group job attribution.
Pure functions, tested in ``perfbench/tests``."""

from __future__ import annotations

import math
import statistics

#: Percentiles a latency may be reported at, lowest first.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable(n: int, p: float) -> bool:
    """A percentile is reported only when at least ten samples lie beyond it."""
    return round(n * (100.0 - p) / 100.0, 6) >= 10


def highest_reportable(n: int) -> float | None:
    """The highest of ``PERCENTILES`` that ``n`` samples support."""
    best = None
    for p in PERCENTILES:
        if reportable(n, p):
            best = p
    return best


def latency_summary(values) -> dict:
    """Median, sample count, and the highest percentile the count supports."""
    out = {"n": len(values), "p50": statistics.median(values)}
    top = highest_reportable(len(values))
    if top is not None and top > 50.0:
        out[f"p{top:g}"] = percentile(values, top)
    return out


def failed_share(outcomes) -> float:
    """Share of attempted operations that raised or returned a wrong output.
    ``outcomes`` holds one status per attempt: ``"ok"``, ``"error"`` or
    ``"wrong"``."""
    outcomes = list(outcomes)
    if not outcomes:
        raise ValueError("no operations attempted")
    return sum(o != "ok" for o in outcomes) / len(outcomes)


def attribute_jobs(groups: dict[str, list[int]]) -> dict[int, str]:
    """job id → the one job group that launched it. A job listed under two
    groups means attribution failed, which is an error, not a guess."""
    owner: dict[int, str] = {}
    for g, ids in groups.items():
        for j in ids:
            if j in owner and owner[j] != g:
                raise ValueError(f"job {j} attributed to both {owner[j]} and {g}")
            owner[j] = g
    return owner
