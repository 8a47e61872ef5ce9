"""Statistics over one run's operation records and spans.

Kept free of I/O so the benchmark's tests can check the arithmetic."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail_percentile(xs, candidates=(99.9, 99, 90, 50)):
    """The highest candidate percentile with at least ten samples beyond
    it, as (percentile, value), or None when there are too few samples.
    A sample lies beyond the p-th percentile when it is among the
    n * (1 - p/100) largest."""
    n = len(xs)
    for p in candidates:
        beyond = int(math.floor(n * (100 - p) / 100 + 1e-9))
        if beyond >= 10:
            ordered = sorted(xs)
            return p, ordered[n - beyond - 1]
    return None


def self_times(spans):
    """Per span id: its duration minus the part of it that its children
    cover. Children are clipped to the parent, and overlapping children
    count once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], lo), min(c["end_ns"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out
