"""Metric arithmetic for the benchmark, free of Spark so it can be tested
on synthetic inputs (see test_stats.py)."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

STANDARD_PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method), p in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest standard percentile with at least ``beyond`` of ``n``
    samples above it, or None when not even the median qualifies."""
    best = None
    for p in STANDARD_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= beyond:
            best = p
    return best


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(math.fsum(math.log(v) for v in values) / len(values))


def summarize(values: Sequence[float]) -> dict:
    """Geometric mean, median, p90 and the highest percentile the sample
    count supports, each with the sample count it rests on."""
    n = len(values)
    out = {"n": n, "geomean": geomean(values), "p50": percentile(values, 50.0),
           "p90": percentile(values, 90.0)}
    top = highest_supported_percentile(n)
    if top is not None:
        out["top_p"] = top
        out["top_value"] = percentile(values, top)
    return out


def weighted_samples(pairs: Iterable[tuple[float, int]]) -> list[float]:
    """Expand (value, count) pairs into one sample per counted item."""
    out: list[float] = []
    for value, count in pairs:
        out.extend([value] * count)
    return out


def visible_latencies(
    rows_per_batch: dict[int, int], visible_at: dict[int, float], submitted_at: float
) -> list[float]:
    """Per-row latency for a backlog: every row was submitted when the call
    started and became visible when its batch's sink commit landed."""
    return weighted_samples(
        (visible_at[b] - submitted_at, n) for b, n in sorted(rows_per_batch.items())
    )


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("nothing was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def multiset_mismatches(expected: dict, actual_rows: Iterable[tuple]) -> int:
    """Keys whose value differs between ``expected`` (key -> value) and
    ``actual_rows`` ((key, value) pairs, possibly with duplicate keys):
    a key missing from either side, carrying another value, or delivered
    more than once counts once."""
    seen: dict = {}
    dup = set()
    for k, v in actual_rows:
        if k in seen:
            dup.add(k)
        seen[k] = v
    bad = {k for k in expected if seen.get(k, object()) != expected[k]}
    bad |= {k for k in seen if k not in expected}
    return len(bad | dup)


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Self time per span name: the span's duration minus the union of the
    intervals its direct children cover (clipped to the span)."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
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


def prefix_self_times(prefix_walls: Sequence[tuple[str, float]]) -> dict[str, float]:
    """Self time of each layer from cumulative-prefix wall times: prefix i
    runs layers 1..i, so layer i costs wall_i - wall_(i-1)."""
    out, prev = {}, 0.0
    for name, wall in prefix_walls:
        out[name] = wall - prev
        prev = wall
    return out


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4) gives them."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
