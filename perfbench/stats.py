"""Small statistics over samples and [start, end] intervals (ms)."""
import math
import statistics

# Candidate percentiles for the tail, highest first.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it, by
    nearest rank: returns (percentile, value, samples_above). With too few
    samples for any percentile on the ladder, the maximum is returned as
    the 100th percentile with 0 samples above it."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= beyond:
            return p, xs[rank - 1], n - rank
    return 100.0, (xs[-1] if xs else 0.0), 0


def merge(intervals):
    """Sorted, non-overlapping union of intervals."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    return sum(max(0.0, min(e, hi) - max(s, lo)) for s, e in merge(intervals))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - covered(children, s, e)


def max_overlap(intervals):
    """Most intervals open at one instant (an end at t closes before a
    start at t opens)."""
    events = sorted([(s, 1) for s, e in intervals] + [(e, -1) for s, e in intervals],
                    key=lambda x: (x[0], x[1]))
    best = cur = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best
