"""Arithmetic the benchmark reports with: percentiles, span self time,
blocking-path attribution, scaling efficiency, freshness, failure ratio.

Pure functions over plain numbers so they can be tested without Spark.
"""

from __future__ import annotations

import math

#: percentiles considered for a "highest reported percentile"
_LEVELS = (50, 75, 90, 95, 99)
#: samples that must lie beyond the highest reported percentile
MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linear-interpolation quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def highest_percentile(n: int) -> "int | None":
    """The highest of 50/75/90/95/99 that keeps at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when even the median does not."""
    best = None
    for p in _LEVELS:
        if n * (100 - p) / 100 >= MIN_BEYOND:
            best = p
    return best


def percentile_report(values, name: str, unit: str, wanted: int) -> dict:
    """``{name_p50: ..., name_p<k>: ...}`` where k is ``wanted`` if the
    sample count supports it, else the highest level that does. The
    sample count is reported beside them as ``name_n``."""
    out = {f"{name}_n": {"value": len(values), "unit": "count"}}
    if not values:
        return out
    out[f"{name}_p50_{unit}"] = {"value": median(values), "unit": unit}
    top = highest_percentile(len(values))
    if top is not None and top > 50:
        top = min(top, wanted)
        out[f"{name}_p{top}_{unit}"] = {
            "value": quantile(values, top / 100), "unit": unit
        }
    return out


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals (overlaps once)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap each other (parallel commit threads) and may
    stick out of the parent; only the covered part inside counts."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    ]
    return (end - start) - union_length(clipped)


def blocking_attribution(spans, t0: float, t1: float) -> "tuple[dict, float]":
    """Charge every instant of ``[t0, t1]`` to exactly one layer.

    ``spans`` are ``(layer, start, end, depth)``. At each instant the
    deepest open span (latest start on ties) is the one the result is
    waiting on; instants with no span open are unaccounted. Returns
    ``({layer: seconds}, unaccounted_seconds)`` — their sum is
    ``t1 - t0`` by construction."""
    events = []  # (time, kind, index): kind 0 closes before 1 opens
    live = []
    for layer, s, e, d in spans:
        s, e = max(s, t0), min(e, t1)
        if e > s:
            events.append((s, 1, len(live)))
            events.append((e, 0, len(live)))
            live.append((layer, s, d))
    events.sort()
    out: dict = {}
    unaccounted = 0.0
    active: set = set()
    prev = t0
    for t, kind, i in events + [(t1, 0, None)]:
        if t > prev:
            if active:
                layer = max(
                    (live[j] for j in active), key=lambda x: (x[2], x[1])
                )[0]
                out[layer] = out.get(layer, 0.0) + (t - prev)
            else:
                unaccounted += t - prev
            prev = t
        if i is not None:
            (active.add if kind else active.discard)(i)
    return out, unaccounted


def scaling_efficiency(rate_4n: float, rate_n: float, factor: int = 4) -> float:
    """Throughput at ``factor``×N over ``factor`` × throughput at N."""
    if rate_n <= 0:
        raise ValueError("throughput at N must be positive")
    return rate_4n / (factor * rate_n)


def freshness(due: dict, committed: dict) -> "dict[str, float]":
    """Per feed file: seconds from its due time to the commit of the
    batch that carried it. Measured from *due*, not from publication, so
    a generator that ran late still charges its lateness to the file."""
    return {f: committed[f] - due[f] for f in due if f in committed}


def lateness(due: dict, published: dict) -> "list[float]":
    """How late the generator published each file (never negative)."""
    return [max(0.0, published[f] - due[f]) for f in due if f in published]


def failed_ratio(failed: int, attempted: int) -> float:
    """Failed operations over attempted ones; an empty run is an error."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted
