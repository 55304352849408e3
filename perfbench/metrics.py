"""Statistics the benchmark reports: percentiles under the ten-beyond rule,
medians and span self time."""

import math
import statistics

# a timing percentile is reported only when at least this many samples lie
# beyond it, so a single outlier can never be the reported tail
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile `p` (0 < p <= 100) of `values`."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(v)))
    return v[rank - 1]


def samples_beyond(n, p):
    """How many of `n` samples lie strictly above the nearest-rank `p`."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values, p):
    """Percentile `p` of `values`, or None when fewer than MIN_BEYOND
    samples lie beyond it (too few samples to report that tail)."""
    if samples_beyond(len(values), p) < MIN_BEYOND:
        return None
    return percentile(values, p)


def median(values):
    return statistics.median(values)


def mean(values):
    return statistics.fmean(values)


def _union_length(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its children cover. Children may overlap each other (threads),
    so their covered time is the union of their intervals, clipped to the
    parent's interval.

    `spans` is a list of dicts with keys id, name, parent, start, end.
    """
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in by_parent.get(s["id"], [])]
        covered = _union_length([(a, b) for a, b in kids if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans):
    """Summed self time per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + st[s["id"]]
    return out
