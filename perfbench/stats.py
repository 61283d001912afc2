"""Pure helpers: percentiles, span self time, cache ratios, failure
counting and result comparison. No Spark, no I/O — unit-tested in
perfbench/tests/test_stats.py."""

from __future__ import annotations

import math
import statistics
from collections import Counter

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 70.0)
MIN_BEYOND = 10


def tail_percentile(counts, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile of TAIL_LADDER with at least `min_beyond`
    samples strictly above its nearest rank, summed over operation
    kinds of `counts` samples each (balanced_percentile takes the
    percentile per kind), or None when even the lowest rung has fewer."""
    for p in TAIL_LADDER:
        if sum(n - rank(p, n) for n in counts) >= min_beyond:
            return p
    return None


def rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (the small
    slack keeps 99.9% of 10000 at rank 9990 despite float rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p% * n))."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[rank(p, len(xs)) - 1]


def balanced_percentile(by_kind: dict[str, list], p: float) -> float:
    """Mean over operation kinds of each kind's percentile p. A
    workload cycles kinds of very different cost in a fixed order, so
    a pooled percentile falls wherever one kind's latencies end and the
    next one's begin; this one weighs every kind the same whatever the
    count each reached before the deadline."""
    if not by_kind:
        raise ValueError("percentile of no samples")
    return statistics.fmean(percentile(v, p) for v in by_kind.values())


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them — the run-to-run spread the benchmark is held to."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end)."""
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


def self_times(spans) -> dict:
    """span id -> its duration minus the part of its interval covered
    by its children (clipped to the parent; overlapping children
    counted once). `spans` are dicts with id, start, end, parent."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], ())]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans) -> dict[str, float]:
    """Summed self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def plan_cache_ratio(hits0: int, misses0: int, hits1: int, misses1: int):
    """Hit ratio over a window from counter snapshots at its start and
    end: (ratio or None when no lookups, hits, lookups)."""
    hits, misses = hits1 - hits0, misses1 - misses0
    if hits < 0 or misses < 0:
        raise ValueError("plan-cache counters went backwards")
    lookups = hits + misses
    return (hits / lookups if lookups else None), hits, lookups


def failure_kind(status: int | None, error: str | None = None,
                 correct: bool = True) -> str | None:
    """Why one operation failed, or None if it succeeded. An exception
    or timeout (no status) fails; a 429 is a rejection; any other
    non-2xx fails; a 2xx with a wrong answer fails."""
    if error is not None:
        return "timeout" if "timed out" in error.lower() else "exception"
    if status is None:
        return "exception"
    if status == 429:
        return "rejected"
    if not 200 <= status < 300:
        return f"http_{status}"
    if not correct:
        return "wrong_answer"
    return None


def count_failures(kinds) -> tuple[int, int, dict[str, int]]:
    """(attempted, failed, failures by kind) over failure_kind results."""
    kinds = list(kinds)
    by = Counter(k for k in kinds if k is not None)
    return len(kinds), sum(by.values()), dict(sorted(by.items()))


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    """Float equality up to `rel` relative (absolute below 1.0): nine
    significant digits, the precision tools/check_correctness.py
    compares at."""
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def same(a, b) -> bool:
    """Deep equality of decoded JSON-like values, floats by `close`;
    an int and a float compare by value."""
    if isinstance(a, bool) or isinstance(b, bool):
        return type(a) is type(b) and a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return close(float(a), float(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(a, b) -> bool:
    """Order-insensitive row comparison: rows sorted by their non-float
    cells, then compared cell by cell with `same`."""
    def key(r):
        return tuple("" if isinstance(v, float) else repr(v) for v in r)
    return len(a) == len(b) and all(
        same(list(x), list(y))
        for x, y in zip(sorted(a, key=key), sorted(b, key=key)))
