#!/usr/bin/env python3
"""The graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <surface_sweep|search_serve|watch_churn>
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft and the harness from
source (perfbench/build.py), generates the workload's inputs from the
seed, runs them in one fresh JVM on local[min(4, nproc)] against the
corpus in perfbench/data, checks every answer, and prints one JSON line
last: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
It exits non-zero on a wrong answer or a failed run. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from graftbench import inputs, stats, trace  # noqa: E402

CORPUS = os.path.join("perfbench", "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected", "sf0.001.json")
WORKLOADS = ("surface_sweep", "search_serve", "watch_churn")
JVM_TIMEOUT_S = 170
# A run is flagged as under load when other processes of the machine kept
# more than OTHER_CORES cores busy on average while it ran, or the
# hypervisor took more than STEAL of the CPU time (load averages cannot
# tell the benchmark's own JVM, and its predecessor's, from other load).
OTHER_CORES = 0.5
STEAL = 0.05

END_TO_END = {  # name -> unit
    "setup_s": "s", "first_ms": "ms", "repeat_ms": "ms", "tail_ms": "ms",
    "retained_heap_mb": "MB", "index_bytes_ratio": "ratio",
}
FAMILIES = ["relational", "vec", "fts", "graph", "dedup", "text", "curate",
            "ingest", "mm", "pattern", "stream", "misc"]
FAMILY_PREFIX = [  # registry name prefix -> family; the first match wins
    ("q", "relational"), ("vec_", "vec"), ("hybrid_", "vec"), ("fts_", "fts"),
    ("tag_", "fts"), ("graph_", "graph"), ("dedup_", "dedup"), ("text_", "text"),
    ("curate_", "curate"), ("corpus_", "curate"), ("chunk_", "ingest"),
    ("embed_", "ingest"), ("index_", "ingest"), ("ingest_", "ingest"),
    ("discover_", "ingest"), ("doc_", "ingest"), ("branch_", "ingest"),
    ("change_", "ingest"), ("pipeline_", "ingest"), ("mm_", "mm"),
    ("pattern_", "pattern"), ("stream_", "stream"), ("watch_", "stream"),
]
PER_LAYER = (
    ["indexstore.build_s", "indexstore.tables", "indexstore.disk_mb",
     "plancache.memos", "plancache.memo_mb", "plancache.unpersists",
     "operators.construct_s", "operators.eager_jobs",
     "spark.plan.analysis_s", "spark.plan.optimizer_s", "spark.plan.planning_s",
     "driver.other_s", "spark.codegen.compile_s", "spark.codegen.compiles",
     "spark.codegen.steady_compiles",
     "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks", "spark.exec.job_wall_s",
     "spark.exec.task_run_s", "spark.exec.task_cpu_s", "spark.exec.gc_s",
     "spark.shuffle.write_mb", "spark.shuffle.read_mb", "spark.shuffle.fetch_wait_s",
     "spark.shuffle.spill_mb", "tables.input_mb", "tables.input_records"]
    + [f"family.{f}.{p}_s" for f in FAMILIES for p in ("cold", "steady")]
    + ["search.vec.p50_ms", "search.fts.p50_ms", "search.graph.p50_ms",
       "trace.overhead_frac", "trace.layer_sum_coverage"])
COUNTERS = [  # per-layer metric, per-op counter of the Spark listener, scale
    ("spark.exec.jobs", "jobs", 1), ("spark.exec.stages", "stages", 1),
    ("spark.exec.tasks", "tasks", 1), ("spark.exec.task_run_s", "task_run_ms", 1e-3),
    ("spark.exec.task_cpu_s", "task_cpu_ns", 1e-9), ("spark.exec.gc_s", "gc_ms", 1e-3),
    ("spark.shuffle.write_mb", "shuffle_write_bytes", 2**-20),
    ("spark.shuffle.read_mb", "shuffle_read_bytes", 2**-20),
    ("spark.shuffle.fetch_wait_s", "fetch_wait_ms", 1e-3),
    ("spark.shuffle.spill_mb", "spill_bytes", 2**-20),
    ("tables.input_mb", "input_bytes", 2**-20), ("tables.input_records", "input_records", 1),
    ("spark.codegen.compiles", "codegen_compiles", 1),
    ("spark.codegen.compile_s", "codegen_ms", 1e-3),
]
# watch_churn only (not a workload of BENCHMARK.json, see perfbench/README.md)
WATCH_LAYER = ["watchloop.batches", "watchloop.edges_appended", "watchloop.failed_reloads",
               "watchloop.batch_ms", "watchloop.generator_lag_ms", "watchloop.reload_p50_ms",
               "watchloop.reload_tail_ms"]


def unit_of(name):
    for suf, u in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_frac", "ratio"),
                   ("_share", "ratio"), ("_coverage", "ratio")):
        if name.endswith(suf):
            return u
    return "count"


def family(name):
    return next((f for p, f in FAMILY_PREFIX if name.startswith(p)), "misc")


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(busy, steal, total) clock ticks of the machine from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    user, nice, system, idle, iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal, sum(v)


def children_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def other_load(t0, ticks0, cpu0):
    """Cores other processes kept busy since `t0`, and the steal share."""
    ticks1 = cpu_ticks()
    if not ticks0 or not ticks1:
        return None, None
    hz = os.sysconf("SC_CLK_TCK")
    busy = (ticks1[0] - ticks0[0]) / hz - (children_cpu_s() - cpu0)
    total = ticks1[2] - ticks0[2]
    return busy / (time.time() - t0), (ticks1[1] - ticks0[1]) / total if total else 0.0


def git_commit():
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    (git is kept from searching above the checkout)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(build.ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10, cwd=build.ROOT, env=env)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def jvm_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [a for p in pkgs for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def make_plan(args, cpus, run_dir):
    plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "corpus": CORPUS, "run_dir": run_dir}
    if args.workload == "surface_sweep":
        plan.update(inputs.surface_plan(args.seed))
    elif args.workload == "search_serve":
        plan.update(inputs.serve_plan(args.seed), trace_block=inputs.MIX_PERIOD)
    else:
        plan.update(inputs.churn_plan(args.seed, args.seconds))
    return plan


def run_jvm(cp, plan, run_dir):
    os.makedirs(run_dir)
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap: first-touch page faults are costly on some
    # VMs and would otherwise land on whichever operation grows the heap
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"] + jvm_opens()
           + ["-cp", cp, "graftbench.Main", "run", plan_path, out_path])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=build.ROOT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: JVM run failed ({rc})")
    with open(out_path) as f:
        return json.load(f)


def check_answers(out):
    """Failed checks as (name, detail): the run's own checks plus the
    sweep's comparison with the expected results."""
    bad = [(c["name"], c["detail"]) for c in out["checks"] if not c["ok"]]
    expected = json.load(open(EXPECTED))["queries"]
    contracts = {"q9b_approx_distinct", "q13b_approx_percentiles"}
    for name, got in out.get("hashes", {}).items():
        want = expected[name]
        if "error" in got:
            bad.append((name, got["error"]))
        elif name in contracts:
            if got["rows"] != want["rows"] or got["cols"] != want["cols"]:
                bad.append((name, f"rows {got['rows']} want {want['rows']}"))
        elif got["hash"] != want["hash"]:
            bad.append((name, f"hash {got['hash']} want {want['hash']}"))
    return bad


def kind_geomean(req, novel):
    """Geometric mean over the request kinds of each kind's median latency,
    where each distinct request (parameter set) counts once, with the
    median of its own latencies. Every kind weighs the same whatever its
    share of requests, so the figure moves with a memo that serves graph
    or vector requests and does not hinge on where the kinds' latency
    ranges meet; every distinct repeated request weighs the same however
    often it repeats, so a seed whose draw repeats a cheap request most
    does not set the kind's median alone."""
    meds = []
    for k in sorted(set(inputs.KIND_CYCLE)):
        per_key = {}
        for o in req:
            if o["kind"] == k and o["novel"] == novel:
                per_key.setdefault(o["name"], []).append(o["wall_ms"])
        if per_key:
            meds.append(stats.median([stats.median(v) for v in per_key.values()]))
    return math.exp(sum(map(math.log, meds)) / len(meds)) if meds else None


def end_to_end(out, w):
    ops = [o for o in out["ops"] if o["ok"]]
    detail = {}
    if w == "surface_sweep":
        first = out["passes"][0]["wall_ms"]
        # a steady pass built from each query's median steady time, which
        # one slow query in one pass does not move
        steady = {}
        for o in ops:
            if o["phase"] == "steady":
                steady.setdefault(o["name"], []).append(o["wall_ms"])
        repeat = sum(stats.median(v) for v in steady.values())
        lat = [x for v in steady.values() for x in v]
    elif w == "search_serve":
        req = [o for o in ops if o["phase"] == "req"]
        first = kind_geomean(req, novel=True)
        repeat = kind_geomean(req, novel=False)
        lat = [o["wall_ms"] for o in req]
        # the measured share of repeated requests, overall and per kind
        groups = {"all": req, **{k: [o for o in req if o["kind"] == k]
                                 for k in sorted(set(inputs.KIND_CYCLE))}}
        detail["repeat_share"] = {k: sum(not o["novel"] for o in g) / len(g)
                                  for k, g in groups.items() if g}
    else:
        vis = [b["visible_ms"] for b in out["batches"] if b["visible_ms"] >= 0]
        first = stats.median(vis)
        lat = [o["wall_ms"] for o in ops if o["phase"] == "read"]
        repeat = stats.median(lat)
    p, t, beyond = stats.tail(lat)
    m = {"setup_s": out["setup_s"], "first_ms": first, "repeat_ms": repeat, "tail_ms": t,
         "retained_heap_mb": out["retained_heap_bytes"] / 2**20,
         "index_bytes_ratio": out["warehouse_bytes"] / out["corpus_bytes"]}
    detail.update(tail_percentile=p, tail_samples=len(lat), tail_beyond=beyond)
    return m, detail


def per_layer(out, w):
    folded = trace.fold(out.get("spans", []))
    traced = {o["id"]: o for o in out["ops"] if o["traced"]}
    folded = {k: v for k, v in folded.items() if k in traced}
    m = dict.fromkeys(PER_LAYER + (WATCH_LAYER if w == "watch_churn" else []), 0.0)
    layer_keys = {"operators.construct": "operators.construct_s",
                  "spark.plan.analysis": "spark.plan.analysis_s",
                  "spark.plan.optimizer": "spark.plan.optimizer_s",
                  "spark.plan.planning": "spark.plan.planning_s",
                  "driver.other": "driver.other_s",
                  "spark.exec.job_wall": "spark.exec.job_wall_s"}
    for layers, _, eager in folded.values():
        for k, v in layers.items():
            if k in layer_keys:
                m[layer_keys[k]] += v
        m["operators.eager_jobs"] += eager
    counters = out.get("counters", {})
    for op in traced:
        c = counters.get(op, {})
        for metric, key, scale in COUNTERS:
            m[metric] += c.get(key, 0) * scale
    m["plancache.unpersists"] = counters.get("-", {}).get("unpersists", 0)
    m["plancache.memos"] = out["memos"]
    m["plancache.memo_mb"] = out["memo_bytes"] / 2**20
    m["indexstore.tables"] = out["catalog_tables"]
    m["indexstore.disk_mb"] = out["warehouse_bytes"] / 2**20
    m["indexstore.build_s"] = out.get("index_build_s", 0.0)
    m["trace.layer_sum_coverage"] = trace.layer_sum_coverage(folded)
    ops = [o for o in out["ops"] if o["ok"]]

    def overhead(items):
        """Median traced over median untraced wall, minus one."""
        t = stats.median([x["wall_ms"] for x in items if x["traced"]])
        u = stats.median([x["wall_ms"] for x in items if not x["traced"]])
        return t / u - 1 if t and u else 0.0

    if w == "surface_sweep":
        m["spark.codegen.steady_compiles"] = out["steady_codegen_compiles"]
        for o in ops:
            if o["kind"] == "query":
                m[f"family.{family(o['name'])}.{o['phase']}_s"] += o["wall_ms"] / 1e3
        m["trace.overhead_frac"] = overhead(out["passes"][1:])
    elif w == "search_serve":
        req = [o for o in ops if o["phase"] == "req"]
        for k in ("vec", "fts", "graph"):
            m[f"search.{k}.p50_ms"] = stats.median(
                [o["wall_ms"] for o in req if o["kind"] == k]) or 0.0
        m["trace.overhead_frac"] = overhead(req)
    else:
        reads = [o for o in ops if o["phase"] == "read"]
        b = out["batches"]
        wl = out["watch"]
        reload = [x["reload_ms"] for x in b if x["reload_ms"] >= 0]
        m["watchloop.batches"] = wl["reloads"]
        m["watchloop.edges_appended"] = wl["edges_appended"] or 0
        m["watchloop.failed_reloads"] = wl["failed"]
        m["watchloop.batch_ms"] = stats.median(wl["batch_ms"]) or 0.0
        m["watchloop.generator_lag_ms"] = stats.median([x["lag_ms"] for x in b]) or 0.0
        m["watchloop.reload_p50_ms"] = stats.median(reload) or 0.0
        m["watchloop.reload_tail_ms"] = stats.tail(reload)[1] or 0.0
        m["trace.overhead_frac"] = overhead(reads)
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cp, source_sha = build.build()
    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, min(4, nproc - 1))
    run_dir = os.path.join(build.ROOT, ".bench_build", "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    load_start = load1()
    t0, ticks0, cpu0 = time.time(), cpu_ticks(), children_cpu_s()
    try:
        plan = make_plan(args, cpus, run_dir)
        out = run_jvm(cp, plan, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = load1()
    others, steal = other_load(t0, ticks0, cpu0)
    failed_ops = [o for o in out["ops"] if not o["ok"]]
    bad = check_answers(out)
    attempted = len(out["ops"]) + len(out.get("batches", []))
    failed = len(failed_ops) + len(bad)
    if args.trace:
        metrics = per_layer(out, args.workload)
        detail = {}
    else:
        metrics, detail = end_to_end(out, args.workload)
    host = {"nproc": nproc, "cpus_used": cpus, "load_1m_start": load_start,
            "load_1m_end": load_end, "other_cores": others, "steal_frac": steal,
            "under_load": others is not None and (others > OTHER_CORES or steal > STEAL),
            "commit": git_commit(), "source_sha": source_sha,
            "run_s": round(time.time() - t0, 2), **out["env"]}
    for o in failed_ops:
        print(f"perfbench: op failed: {o['name']}: {o['err']}", file=sys.stderr)
    for name, d in bad:
        print(f"perfbench: wrong answer: {name}: {d}", file=sys.stderr)
    if args.workload == "surface_sweep":
        per_query = {}
        for o in out["ops"]:
            q = per_query.setdefault(o["name"], {"cold_s": None, "steady_s": [], "err": ""})
            if o["phase"] == "cold":
                q["cold_s"] = o["wall_ms"] / 1e3
            else:
                q["steady_s"].append(o["wall_ms"] / 1e3)
            q["err"] = q["err"] or o["err"]
        print("perfbench-queries " + json.dumps(
            {k: {"cold_s": v["cold_s"], "steady_s": stats.median(v["steady_s"]),
                 "err": v["err"]} for k, v in sorted(per_query.items())}))
    print("perfbench-host " + json.dumps({**host, **detail}))
    correct = failed == 0 and all(v is not None for v in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": END_TO_END.get(k) or unit_of(k)}
                                  for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
