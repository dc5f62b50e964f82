"""Arithmetic of the benchmark: percentiles, means, interval unions and
span self times. Pure functions over plain lists and dicts; tested by
perfbench/test_stats.py."""
import math
import statistics

TAIL_BEYOND = 10


def tail_percentile(samples, beyond=TAIL_BEYOND):
    """The highest percentile of `samples` that still has at least `beyond`
    samples ranked above it, as (value, percentile). Nearest rank: the
    value at 0-based rank k is the (k+1)/n percentile and has n-1-k samples
    beyond it. None when there are too few samples."""
    xs = sorted(samples)
    k = len(xs) - 1 - beyond
    if k < 0:
        return None
    return xs[k], 100.0 * (k + 1) / len(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the (start, end) intervals, clipped to
    [lo, hi]; overlapping intervals count once."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def self_times(spans):
    """{span id: self time} where self time is the span's duration minus
    the part of its interval that its children cover. Children may
    overlap each other (parallel jobs, stages); covered time counts once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {
        s["id"]: (s["end_ms"] - s["start_ms"]) - union_length(
            children.get(s["id"], []), s["start_ms"], s["end_ms"])
        for s in spans
    }


def driver_gap(start, end, jobs):
    """Wall time of [start, end] during which no job was running."""
    return (end - start) - union_length(jobs, start, end)


def stage_skew(stage_task_times):
    """Median over stages of max task time / median task time. Stages
    whose median task takes 0 ms carry no ratio and are skipped."""
    ratios = []
    for ts in stage_task_times:
        if ts and statistics.median(ts) > 0:
            ratios.append(max(ts) / statistics.median(ts))
    return statistics.median(ratios) if ratios else 1.0

