"""graft benchmark: one workload, one seed, traced or not.

    python3 graftbench/run.py --workload cypher-rw --seed 1 --seconds 10 \
        --trace 0

Builds graft from source (graftbench/build.py), generates the
workload's inputs from the seed, runs the JVM driver (graftbench.Main)
at local[nproc], checks every output against answers computed without
graft, prints every metric by name and unit, and ends with one JSON
line: end-to-end metrics when --trace 0, per-layer metrics when
--trace 1. A full record also goes to .bench_results/. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from stats import median, percentile, reparent_jobs, self_times, \
    union_length  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "cypher-rw", "curation", "stream")
SETUPS = 2            # set-ups per JVM; setup_s takes their median
WARMUP_PASSES = 1     # passes that warm the JIT; not in wall_s or cpu_s
# measured passes per 10 s of --seconds; a cypher-rw pass is the longest
MEASURED_PASSES = {"analytics": 2, "cypher-rw": 1, "curation": 2,
                   "stream": 2}
JVM_TIMEOUT_S = 160

# input sizes per workload (README.md explains each choice)
ANALYTICS_SF = 0.005
CYPHER_SF = 0.01
CURATION_DOCS, CURATION_VECS, CURATION_QUERIES = 2000, 2000, 32
STREAM_EVENTS, STREAM_USERS, STREAM_FILES = 20000, 1000, 4

E2E = {"setup_s": "s", "wall_s": "s", "ops_per_s": "1/s", "cpu_s": "s",
       "retained_heap_mb": "MB"}
# per-layer metrics that every workload produces (the last line of a
# traced run); the workload-specific ones are printed and recorded
PER_LAYER = {"sources.load_s": "s", "spark.jobs": "count",
             "spark.stages": "count", "spark.tasks": "count",
             "spark.task_run_s": "s", "spark.task_cpu_s": "s",
             "spark.task_cpu_frac": "fraction",
             "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
             "spark.result_mb": "MB", "spark.plan_ms": "ms",
             "spark.job_busy_s": "s", "spark.driver_only_s": "s",
             "jvm.gc_s": "s", "jvm.gc_count": "count"}


def generate(workload, seed, inp, passes):
    if workload == "analytics":
        gen.gen_analytics(seed, inp, ANALYTICS_SF)
    elif workload == "cypher-rw":
        gen.gen_cypher(seed, inp, CYPHER_SF, passes)
    elif workload == "curation":
        gen.gen_curation(seed, inp, CURATION_DOCS, CURATION_VECS,
                         CURATION_QUERIES)
    else:
        gen.gen_stream(seed, inp, STREAM_EVENTS, STREAM_USERS, STREAM_FILES)


def jvm_command(cp, workload, inp, out, passes, trace):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the working tree
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main", "--workload", workload,
                  "--input", inp, "--out", out, "--passes", str(passes),
                  "--trace", str(trace), "--setups", str(SETUPS)]


def measured(ops):
    return [o for o in ops if o["pass"] > WARMUP_PASSES]


def typical_pass(ops, key):
    """A typical measured pass: the sum over operation positions of the
    median across measured passes, so a spike in one pass moves only its
    own position."""
    by_seq = {}
    for o in measured(ops):
        by_seq.setdefault(o["seq"], []).append(o[key])
    return sum(median(v) for v in by_seq.values())


def op_metrics(res):
    """Workload-level numbers from the operation log."""
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    m = {}
    reads = [o["ms"] for o in ok if o["kind"] == "read"]
    writes = [o["ms"] for o in ok if o["kind"] == "write"]
    if reads:
        m["read_p50_ms"] = percentile(reads, 50, min_tail=0)[0]
        m["read_p90_ms"], m["read_p90_rank"] = percentile(reads, 90)
        m["reads"] = len(reads)
    if writes:
        m["write_p50_ms"] = percentile(writes, 50, min_tail=0)[0]
        m["writes"] = len(writes)
    prog = res["progress"]
    if prog:
        batches = [p["durations"].get("triggerExecution", 0) for p in prog]
        m["batch_p50_ms"] = median(batches)
        m["events_per_s"] = (sum(p["input_rows"] for p in prog) / len(
            res["pass_wall_s"]) / (typical_pass(ops, "ms") / 1000))
    return m


def layer_metrics(res, spans, extra):
    """Per-layer numbers from the listener counters, spans and progress."""
    m = {}
    setups = res["setups"]
    m["sources.load_s"] = median([s["load_s"] for s in setups])
    if "graph_s" in setups[0]:
        m["sources.graph_s"] = median([s["graph_s"] for s in setups])
    ops = {o["id"]: o for o in res["ops"]}
    ctr = {int(g): c for g, c in res["counters"].items() if g.isdigit()}
    tot = {k: sum(c[k] for c in ctr.values()) for k in (
        "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
        "shuffle_write", "shuffle_read", "spill", "result")}
    mb = 1 / 1048576
    m.update({"spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
              "spark.tasks": tot["tasks"],
              "spark.task_run_s": tot["run_ms"] / 1000,
              "spark.task_cpu_s": tot["cpu_ns"] / 1e9,
              "spark.task_cpu_frac": (tot["cpu_ns"] / 1e6 / tot["run_ms"]
                                      if tot["run_ms"] else 0.0),
              "spark.task_gc_s": tot["gc_ms"] / 1000,
              "spark.shuffle_write_mb": tot["shuffle_write"] * mb,
              "spark.shuffle_read_mb": tot["shuffle_read"] * mb,
              "spark.spill_mb": tot["spill"] * mb,
              "spark.result_mb": tot["result"] * mb,
              "jvm.gc_s": res["gc_s"], "jvm.gc_count": res["gc_count"]})
    spans = reparent_jobs(spans)
    selfs = self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    busy = driver = 0.0
    layer_self = {}
    accounting = []
    for op_id, ss in by_op.items():
        root = next((s for s in ss if s["parent"] == 0 and
                     s["name"] != "spark.job"), None)
        if root is None:
            continue
        wall = root["end"] - root["start"]
        jb = union_length([(s["start"], s["end"]) for s in ss
                           if s["name"] == "spark.job"],
                          root["start"], root["end"])
        busy += jb
        driver += wall - jb
        layers = 0
        for s in ss:
            if s is root or s["name"] == "spark.job":
                continue
            layer_self[s["name"]] = layer_self.get(s["name"], 0) + selfs[s["id"]]
            layers += selfs[s["id"]]
        accounting.append((op_id, wall, jb, layers, selfs[root["id"]]))
    # per operation (ms): wall = job busy + layer self + uncovered
    m["accounting"] = [
        {"op": i, "name": ops[i]["name"], "wall_ms": w / 1e6,
         "job_busy_ms": jb / 1e6, "layer_self_ms": ls / 1e6,
         "uncovered_ms": u / 1e6} for i, w, jb, ls, u in accounting
        if i in ops]
    plan_ns = sum(s["end"] - s["start"] for s in spans
                  if s["name"] == "spark.plan")
    plan_ns += sum(p["durations"].get("queryPlanning", 0) * 1e6
                   for p in res["progress"])
    m["spark.plan_ms"] = plan_ns / 1e6
    m["spark.job_busy_s"] = busy / 1e9
    m["spark.driver_only_s"] = driver / 1e9
    for name, v in sorted(layer_self.items()):
        m[f"self.{name}_s"] = v / 1e9
    m["self.uncovered_s"] = sum(a[4] for a in accounting) / 1e9
    # accounting identity: job busy + layer self + uncovered = op wall
    resid = sum(a[1] - a[2] - a[3] - a[4] for a in accounting)
    m["self.residual_s"] = resid / 1e9
    # workload-specific layers
    wl = res["workload"]
    if wl == "cypher-rw":
        for name in ("cypher.parse", "cypher.compile", "cypher.mutate"):
            d = [(s["end"] - s["start"]) / 1e6 for s in spans
                 if s["name"] == name]
            m[f"{name}_ms_p50"] = median(d) or 0.0
            m[f"{name}_ms_sum"] = sum(d)
    # graft.engine runs the analytics calls and cypher-rw's shortestPath
    prefix = {"analytics": "engine", "curation": "functions",
              "cypher-rw": "engine"}.get(wl)
    if prefix:
        # medians across measured passes
        per = {}
        for oid, o in ops.items():
            if o["pass"] <= WARMUP_PASSES:
                continue
            if wl == "cypher-rw" and o["name"] != "shortest_path":
                continue
            c = ctr.get(oid, {})
            per.setdefault(o["name"], []).append(
                (o["ms"] / 1000, c.get("cpu_ns", 0) / 1e9, c.get("jobs", 0)))
        for name, xs in per.items():
            m[f"{prefix}.{name}.wall_s"] = median([x[0] for x in xs])
            m[f"{prefix}.{name}.task_cpu_s"] = median([x[1] for x in xs])
            if prefix == "engine":
                m[f"engine.{name}.jobs"] = median([x[2] for x in xs])
    if wl == "stream":
        prog = res["progress"]

        def p50(key):
            return median([p["durations"].get(key, 0) for p in prog]) or 0
        m.update({"streaming.batches": len(prog),
                  "streaming.no_data_batches":
                      sum(1 for p in prog if p["input_rows"] == 0),
                  "streaming.add_batch_ms": p50("addBatch"),
                  "streaming.query_planning_ms": p50("queryPlanning"),
                  "streaming.get_batch_ms": p50("getBatch"),
                  "streaming.wal_commit_ms": p50("walCommit"),
                  "streaming.commit_offsets_ms": p50("commitOffsets"),
                  "streaming.state_rows": max(p["state_rows"] for p in prog),
                  "streaming.state_mem_mb":
                      max(p["state_mem"] for p in prog) * mb,
                  "streaming.state_commit_ms":
                      median([p["state_commit_ms"] for p in prog])})
    m.update(extra)
    return m


UNITS = {"per_s": "1/s", "_ms": "ms", "_s": "s", "_mb": "MB"}


def unit_of(name):
    if name in E2E:
        return E2E[name]
    if name in PER_LAYER:
        return PER_LAYER[name]
    for suffix, u in UNITS.items():
        if name.endswith(suffix) or f"{suffix}_" in name:
            return u
    if name.endswith("frac") or name.endswith("precision") or \
            name.endswith("recall") or name == "error_rate":
        return "fraction"
    if name.endswith("_rank"):
        return "percentile"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    cp = build.build()
    passes = WARMUP_PASSES + MEASURED_PASSES[a.workload] * max(
        1, round(a.seconds / 10))

    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    inp, out = os.path.join(work, "in"), os.path.join(work, "out")
    try:
        t0 = time.time()
        generate(a.workload, a.seed, inp, passes)
        gen_s = time.time() - t0
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            jvm = subprocess.Popen(
                jvm_command(cp, a.workload, inp, out, passes, a.trace),
                stdout=log, stderr=subprocess.STDOUT)
            try:
                jvm.wait(timeout=JVM_TIMEOUT_S)
            finally:
                # also on a timeout or SIGTERM: never leave the JVM behind
                if jvm.poll() is None:
                    jvm.kill()
                    jvm.wait()
        if jvm.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"benchmark JVM exited with {jvm.returncode}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        spans = []
        if a.trace:
            with open(os.path.join(out, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f if line.strip()]
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        extra = {}
        n_bad_reads = 0
        if a.workload == "cypher-rw":
            c, n_bad_reads = check.check_cypher(inp, out, passes)
            checks += c
        elif a.workload in ("curation", "stream"):
            with open(os.path.join(inp, "params.json")) as f:
                params = json.load(f)
            if a.workload == "curation":
                c, extra = check.check_curation(inp, out, params)
                checks += c
            else:
                checks += check.check_stream(inp, out, params)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    failed_ops = sum(1 for o in ops if not o["ok"])
    # a wrong result counts once: per wrong Cypher read, otherwise per
    # failed output check of an operation that did not already fail
    wrong = n_bad_reads if a.workload == "cypher-rw" else \
        sum(1 for n, ok, _ in checks if not ok)
    wrong = min(wrong, len(ops) - failed_ops)
    attempted = len(ops)
    failed = failed_ops + wrong
    ok_ops = sum(1 for o in measured(ops) if o["ok"])
    setups = [s["total_s"] for s in res["setups"]]
    e2e = {"setup_s": gen_s + res["jvm_start_s"] + median(setups),
           "wall_s": typical_pass(ops, "ms") / 1000,
           "ops_per_s": ok_ops / (passes - WARMUP_PASSES) /
           (typical_pass(ops, "ms") / 1000),
           "cpu_s": typical_pass(ops, "cpu_ms") / 1000,
           "retained_heap_mb": res["retained_heap_mb"]}
    specific = op_metrics(res)
    specific["error_rate"] = failed / attempted if attempted else 1.0
    env = {"nproc": res["nproc"], "heap_max_mb": res["heap_max_mb"],
           "steal_cores": res["steal_cores"], "ext_cores": res["ext_cores"],
           "gen_s": gen_s, "jvm_start_s": res["jvm_start_s"],
           # process start to the first timed operation had the JVM set
           # up once: input generation, JVM start, the first (cold) set-up
           "setup_first_s": gen_s + res["jvm_start_s"] + setups[0],
           "run_s": time.time() - t_start}
    layers = layer_metrics(res, spans, extra) if a.trace else {}
    accounting = layers.pop("accounting", [])

    print(f"graft benchmark: workload={a.workload} seed={a.seed} "
          f"trace={a.trace} nproc={env['nproc']} "
          f"heap_max={env['heap_max_mb']:.0f}MB "
          f"steal={env['steal_cores']:.2f} cores "
          f"external={env['ext_cores']:.2f} cores")
    print(f"  set-up: inputs {gen_s:.3f} s, JVM and Spark start "
          f"{res['jvm_start_s']:.3f} s, set-ups "
          f"{' '.join(f'{x:.3f}' for x in setups)} s; "
          f"first timed operation after {env['setup_first_s']:.3f} s "
          "with one set-up")
    for name, ok, detail in checks:
        print(f"  check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    print(f"  operations attempted={attempted} failed={failed}")
    shown = dict(e2e)
    shown.update(specific if not a.trace else layers)
    for k, v in shown.items():
        if v is not None:
            print(f"  {k:<40} {v:>14.6g} {unit_of(k)}")
    if specific.get("read_p90_rank") is not None and \
            specific["read_p90_rank"] < 90:
        print(f"  note: only {specific['reads']} reads; read_p90_ms is the "
              f"p{specific['read_p90_rank']:.0f}")

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "env": env, "checks": checks, "attempted": attempted,
              "failed": failed, "end_to_end": e2e, "specific": specific,
              "per_layer": layers, "pass_wall_s": res["pass_wall_s"],
              "accounting": accounting,
              "ops": [[o["pass"], o["name"], o["ms"], o["cpu_ms"], o["ok"]]
                      for o in ops]}
    rdir = os.path.join(ROOT, ".bench_results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{a.workload}-seed{a.seed}-trace{a.trace}"
                                 ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    names = PER_LAYER if a.trace else E2E
    src = layers if a.trace else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": src[k], "unit": u}
                    for k, u in names.items()}}))


if __name__ == "__main__":
    main()
