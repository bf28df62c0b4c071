"""Arithmetic the benchmark reports with. Pure functions, tested in test_stats.py."""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, beyond=10, cap=90.0):
    """The highest percentile, at most `cap`, with at least `beyond` samples above it.

    Nearest rank: the value at 1-based rank k of n sorted samples is the
    100*k/n-th percentile and has n-k samples beyond it. Returns
    (value, percentile), or None when there are too few samples.
    """
    s = sorted(xs)
    n = len(s)
    k = min(n - beyond, math.floor(n * cap / 100.0))
    if k < 1:
        return None
    return s[k - 1], 100.0 * k / n


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def driver_only(start, end, jobs):
    """Wall time of [start, end] not covered by any job interval."""
    return (end - start) - union_length(clip(jobs, start, end))


def growth(xs):
    """Median of the last quarter of a sequence over the median of its second quarter."""
    n = len(xs)
    if n < 4:
        raise ValueError("growth needs at least four samples")
    q2 = xs[n // 4:n // 2]
    q4 = xs[3 * n // 4:]
    return median(q4) / median(q2)


def self_times(spans):
    """Each span's self time: its duration minus the part of it that its
    child spans cover. Returned in the order of `spans`."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return [(s["end_ms"] - s["start_ms"]) -
            union_length(clip(kids.get(s["id"], []), s["start_ms"], s["end_ms"]))
            for s in spans]


def paired_overhead(walls, traced):
    """Tracing overhead as a share: for each traced pass, its wall time over
    the mean of its two untraced neighbours, minus one; the median of those.
    Pairing with the neighbours cancels drift across the run. `walls` and
    `traced` describe the passes in order; every traced pass must sit
    between two untraced ones."""
    shares = []
    for i, t in enumerate(traced):
        if not t:
            continue
        if i == 0 or i + 1 >= len(walls) or traced[i - 1] or traced[i + 1]:
            raise ValueError("a traced pass needs an untraced pass on each side")
        shares.append(walls[i] / ((walls[i - 1] + walls[i + 1]) / 2) - 1.0)
    return median(shares)


def summary(xs):
    """Median, quartiles, sample count and spread (interquartile distance as a
    share of the median) of a metric's values over runs, with the quartiles
    of `statistics.quantiles(xs, n=4)`."""
    import statistics
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = median(xs)
    return {"median": m, "q1": q1, "q3": q3, "n": len(xs), "spread": (q3 - q1) / m}
