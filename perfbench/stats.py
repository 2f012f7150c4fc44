"""Statistics the benchmark reports: latency percentiles, failure counting
and per-layer self time over nested, possibly overlapping spans."""

import math
import statistics

# The highest percentile reported must leave this many samples beyond it.
MIN_BEYOND = 10


def latencies(jobs):
    """Job latencies with every failed job as infinitely slow, so that a
    failure misses every latency limit."""
    return [j["latency_s"] if j["ok"] else math.inf for j in jobs]


def median(values):
    return statistics.median(values) if values else math.nan


def tail_percentile(values, min_beyond=MIN_BEYOND):
    """The highest percentile with at least `min_beyond` samples beyond it.

    Returns (percentile, value, sample count), or None when there are too
    few samples for any percentile to leave `min_beyond` beyond it. With
    100 samples this is the 90th percentile, the 90th smallest value.
    """
    n = len(values)
    if n <= min_beyond:
        return None
    rank = n - min_beyond  # 1-based rank of the reported sample
    return 100.0 * rank / n, sorted(values)[rank - 1], n


def failures(jobs):
    """(attempted, failed): a job fails if it threw or its output check did."""
    return len(jobs), sum(1 for j in jobs if not j["ok"])


def self_times(spans):
    """Self time of every span, in the spans' time unit: the part of its
    interval that none of its children covers. Children of one span may
    overlap (parallel workers), so their union is subtracted, not their
    sum; and where k siblings run at once, each is charged 1/k of that
    time, so the self times of all spans under a root add up to the
    root's duration. Returns {span id: self time}."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}

    def visit(span, segments):
        # segments: [(start, end, weight)] of this span, clipped to its parent
        kids = children.get(span["id"], [])
        kid_segments = {k["id"]: [] for k in kids}
        self_time = 0.0
        for a, b, w in segments:
            cuts = sorted({a, b} | {t for k in kids for t in (k["start_ns"], k["end_ns"])
                                    if a < t < b})
            for lo, hi in zip(cuts, cuts[1:]):
                open_kids = [k for k in kids if k["start_ns"] <= lo and k["end_ns"] >= hi]
                if not open_kids:
                    self_time += (hi - lo) * w
                for k in open_kids:
                    kid_segments[k["id"]].append((lo, hi, w / len(open_kids)))
        out[span["id"]] = self_time
        for k in kids:
            visit(k, kid_segments[k["id"]])

    for s in spans:
        if s["parent"] not in by_id:
            visit(s, [(s["start_ns"], s["end_ns"], 1.0)])
    return out


def layer_of(name):
    return name.split(".", 1)[0]


def layer_self_seconds(spans):
    """Summed self time per layer (the span name's first component)."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + selfs[s["id"]] / 1e9
    return out


def span_totals(spans):
    """{span name: (calls, summed duration in seconds)}."""
    out = {}
    for s in spans:
        calls, secs = out.get(s["name"], (0, 0.0))
        out[s["name"]] = (calls + 1, secs + (s["end_ns"] - s["start_ns"]) / 1e9)
    return out


def descendants(spans, root_name):
    """Spans named `root_name` and every span nested under one of them."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    todo = [s for s in spans if s["name"] == root_name]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out
