"""Statistics shared by the runner, the checks and the diff tool: the
percentile rule, span self times and quartile spreads."""
import math
import statistics

MIN_TAIL = 10


def percentile(samples, q, min_tail=MIN_TAIL):
    """Nearest-rank percentile `q` of `samples`, moved down if needed so
    that at least `min_tail` samples lie above the reported rank.
    Returns (value, percentile actually used), or (None, None) when there
    are too few samples for any rank to have that tail."""
    xs = sorted(samples)
    n = len(xs)
    if n <= min_tail:
        return None, None
    rank = max(1, math.ceil(q / 100 * n))       # 1-based
    rank = min(rank, n - min_tail)
    return xs[rank - 1], 100.0 * rank / n


def median(xs):
    return statistics.median(xs) if xs else None


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, as statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    xs = sorted((max(a, lo) if lo is not None else a,
                 min(b, hi) if hi is not None else b) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in xs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def reparent_jobs(spans):
    """Spark job spans arrive parented to their operation's root; move
    each under the innermost benchmark span of the same operation that
    contains the job's start."""
    by_op = {}
    for s in spans:
        if s["name"] != "spark.job":
            by_op.setdefault(s["op"], []).append(s)
    for s in spans:
        if s["name"] != "spark.job":
            continue
        best = None
        for c in by_op.get(s["op"], []):
            if c["start"] <= s["start"] <= c["end"] and (
                    best is None or c["end"] - c["start"] <
                    best["end"] - best["start"]):
                best = c
        if best is not None:
            s["parent"] = best["id"]
    return spans


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover (children clipped to the parent, overlaps counted
    once). Returns {span id: self time}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(c["start"], c["end"])
                                for c in kids.get(s["id"], [])],
                               s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
