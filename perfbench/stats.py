"""Pure helpers behind the benchmark's metrics: medians, quartile spreads,
interquartile means, interval unions and span self times. Standard library
only."""

import statistics


def median(values):
    """Median of `values`, 0.0 when there are none."""
    return float(statistics.median(values)) if values else 0.0


def quartiles(values):
    """(Q1, median, Q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (0.0 when the median is 0)."""
    q1, _, q3 = quartiles(values)
    m = median(values)
    return (q3 - q1) / abs(m) if m else 0.0


def interquartile_mean(values):
    """Mean of `values` without their lowest and highest quarter (the
    floor of n/4 values at each end), 0.0 when there are none."""
    v = sorted(values)
    cut = len(v) // 4
    mid = v[cut:len(v) - cut]
    return sum(mid) / len(mid) if mid else 0.0


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, each first clipped to
    [lo, hi] when those are given."""
    clipped = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            clipped.append((start, end))
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(clipped):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time of every span, keyed by id: its duration minus the part of
    its interval that its child spans cover. Spans are dicts with `id`,
    `parent`, `start_us` and `end_us`."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(c["start_us"], c["end_us"]) for c in children.get(s["id"], [])],
            s["start_us"], s["end_us"])
        out[s["id"]] = s["end_us"] - s["start_us"] - covered
    return out


def descendants(spans, root_id):
    """Ids of every span below `root_id` (not including it)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], list(children.get(root_id, []))
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(children.get(i, []))
    return out
