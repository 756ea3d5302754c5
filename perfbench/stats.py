"""Summary statistics and span arithmetic for the benchmark's results."""

# Candidate percentiles, highest first, for a latency tail.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated p-th percentile (0-100) of a non-empty sample."""
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values, min_beyond=10, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile that has at least `min_beyond`
    samples above it, as (percentile, value); None if even the median
    lacks that many."""
    n = len(values)
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p, percentile(values, p)
    return None


def covered(intervals, lo, hi):
    """Length of the union of `intervals` (start, end) clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_time(span, spans):
    """A span's duration minus the part of its interval that its child
    spans cover."""
    kids = [(c["start_ms"], c["end_ms"]) for c in spans if c["parent"] == span["id"]]
    return (span["end_ms"] - span["start_ms"]) - covered(kids, span["start_ms"], span["end_ms"])
