"""Compare two sets of benchmark results.

    python3 graftbench/diff.py BEFORE AFTER

BEFORE and AFTER are directories of the records run.py writes to
.bench_results/ (one JSON file per workload, seed and trace setting;
copy the directory away between the two sets). Per workload the tool
prints each end-to-end and workload-specific metric's median and
quartiles side by side, then the per-layer medians and their change,
with spark.task_cpu_s and cpu_s next to wall time. A workload's
tracing overhead is its traced wall time minus its untraced one.
"""
import glob
import json
import os
import statistics
import sys

from stats import spread


def load(d):
    """{workload: {"untraced": [record...], "traced": [record...]}}"""
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        kind = "traced" if r["trace"] else "untraced"
        out.setdefault(r["workload"], {"untraced": [], "traced": []})[
            kind].append(r)
    return out


def quartiles(xs):
    """(q1, median, q3, spread) of the values present, or None."""
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0], xs[0], xs[0], 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3, spread(xs)


def fmt(q):
    """Median [q1, q3] and the spread the bounds in BENCHMARK.json cap."""
    if q is None:
        return "-"
    s = f"{100 * q[3]:.0f}%" if q[1] else "-"
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}] {s}"


def delta(a, b):
    if a is None or b is None or a[1] == 0:
        return ""
    return f"{100 * (b[1] - a[1]) / abs(a[1]):+.1f}%"


def table(title, names, get_a, get_b):
    print(f"  {title}")
    for n in names:
        a, b = quartiles(get_a(n)), quartiles(get_b(n))
        if a is None and b is None:
            continue
        print(f"    {n:<38} {fmt(a):>36} {fmt(b):>36} {delta(a, b):>8}")


def main(before, after):
    A, B = load(before), load(after)
    for w in sorted(set(A) | set(B)):
        a = A.get(w, {"untraced": [], "traced": []})
        b = B.get(w, {"untraced": [], "traced": []})
        print(f"{w}: {len(a['untraced'])}/{len(b['untraced'])} untraced, "
              f"{len(a['traced'])}/{len(b['traced'])} traced runs "
              "(median [q1, q3] spread, before then after)")

        def field(rs, section, n):
            return [r[section].get(n) for r in rs]
        e2e = ["wall_s", "cpu_s", "setup_s", "ops_per_s",
               "retained_heap_mb"]
        spec = sorted({k for r in a["untraced"] + b["untraced"]
                       for k in r["specific"]})
        table("end to end", e2e,
              lambda n: field(a["untraced"], "end_to_end", n),
              lambda n: field(b["untraced"], "end_to_end", n))
        table("workload-specific", spec,
              lambda n: field(a["untraced"], "specific", n),
              lambda n: field(b["untraced"], "specific", n))
        layers = sorted({k for r in a["traced"] + b["traced"]
                         for k in r["per_layer"]})
        first = ["spark.task_cpu_s", "spark.job_busy_s",
                 "spark.driver_only_s"]
        table("per layer (traced)", first + [n for n in layers
                                              if n not in first],
              lambda n: field(a["traced"], "per_layer", n),
              lambda n: field(b["traced"], "per_layer", n))
        for label, s in (("before", a), ("after", b)):
            tw = quartiles(field(s["traced"], "end_to_end", "wall_s"))
            uw = quartiles(field(s["untraced"], "end_to_end", "wall_s"))
            if tw and uw:
                print(f"  tracing overhead ({label}): "
                      f"{tw[1] - uw[1]:+.3f} s of wall time")
        print()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
