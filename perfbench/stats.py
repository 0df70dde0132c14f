"""Pure helpers: percentiles, spreads, span self time, metric names.

No Spark and no I/O here, so ``test_stats.py`` runs them in milliseconds.
"""

from __future__ import annotations

import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    """Names start with a letter or digit and use ``[A-Za-z0-9_.-]``,
    at most 64 characters."""
    return METRIC_NAME.fullmatch(name) is not None


def min_samples_for(p: float, beyond: int = 10) -> int:
    """Smallest sample count that leaves ``beyond`` samples above the
    ``p``-th percentile (p in (0, 100))."""
    return math.ceil(beyond * 100 / (100 - p))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest of the usual percentiles that leaves at least
    ``beyond`` of ``n`` samples above it, or None if even the median
    does not."""
    for p in (99, 95, 90, 80, 75, 50):
        if n >= min_samples_for(p, beyond):
            return p
    return None


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with quartiles
    as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus
    the part of its interval covered by its direct children (overlapping
    children are merged, so concurrent children are not double counted)."""
    children: dict[object, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# build + plan + exec must account for a traced query's wall time within
# this: the larger of 2% of the wall or 10 ms
RECONCILE_REL, RECONCILE_ABS = 0.02, 0.010


def reconcile(spans: list[dict]) -> dict:
    """Whether each ``query`` span's wall time is accounted for by its
    child spans (build, plan, exec) within the tolerance above."""
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    gaps, ok = [], True
    for s in spans:
        if s["name"] != "query":
            continue
        wall = s["end"] - s["start"]
        parts = sum(c["end"] - c["start"] for c in by_parent.get(s["id"], ()))
        gaps.append(wall - parts)
        ok &= wall - parts <= max(RECONCILE_REL * wall, RECONCILE_ABS)
    return {"queries": len(gaps), "max_gap_s": max(gaps, default=0.0), "ok": ok,
            "tolerance": f"max({RECONCILE_REL:.0%} of wall, {RECONCILE_ABS * 1e3:.0f} ms)"}


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> dict:
    """The benchmark's final JSON object."""
    for name in metrics:
        if not valid_metric_name(name):
            raise ValueError(f"bad metric name {name!r}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
