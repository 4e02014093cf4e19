"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the JVM harness
(perfbench/build.py), generates the workload's inputs from the seed,
runs one client in a closed loop on local[4] for `--seconds`, checks
every answer, and prints one JSON line last: `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics (see NOTES.md). A wrong answer exits 1.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

CORES = 4
RUN_DIR = ".bench_run"
# the JVM is stopped after JVM_SETUP_S + JVM_PER_SECOND * --seconds: its
# set-up (session, warm-up pass or day) takes ~40 s, and the timed loop
# overshoots --seconds by up to a whole pass, or a pair of days if traced
JVM_SETUP_S = 130
JVM_PER_SECOND = 3

# Workload sizing. Scales are fractions of TPC-H scale factor 1
# (6M lineitem rows); 0.1 is the engine's bench scale.
WORKLOADS = {
    "dsl_rotate": {"scale": 0.004},
    "dsl_scan": {"scale": 0.01, "copies": 10},
    # `day_s`: a lower bound on one timed day's wall time, which sizes
    # the generated days so they outlast --seconds
    "index_day": {"n_base": 1000, "day_s": 4, "probes": 8, "batch": 30,
                  "append": 60, "audit_live": 10, "min_j": 0.8},
}
INDEX_OPS = ["probe", "append", "takedown", "compact"]

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def pct(xs, q):
    """q-th percentile (linear interpolation) of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def index_days(seconds):
    """Days of index_day inputs for a run of `seconds`: the untimed
    warm-up day and enough timed days to fill the time."""
    return 1 + max(3, math.ceil(seconds / WORKLOADS["index_day"]["day_s"]))


def make_inputs(workload, seed, data, seconds):
    p = WORKLOADS[workload]
    if workload == "index_day":
        plan = gen.index_inputs(seed, data, p["n_base"], index_days(seconds), p["probes"],
                                p["batch"], p["append"], p["audit_live"])
        plan["min_j"] = p["min_j"]
        return plan
    tables = gen.tpch_tables(seed, p["scale"])
    if "copies" in p:
        tables = gen.enlarge(tables, p["copies"], seed)
    gen.write_tables(tables, data)
    return None


def run_jvm(classes, jars, args, work, seconds):
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # metaspace sized up front: generated classes otherwise trigger a
    # string of full GCs while the JVM warms up
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-Dderby.system.home={work}"]
    for o in opens:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_SETUP_S + JVM_PER_SECOND * seconds)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM harness exited with {code}")


def e2e_metrics(rec, read_kind, setup_s):
    lat = [o["lat_ms"] for o in rec["ops"] if o["kind"] == read_kind and o["ok"]]
    if not lat:
        fail(f"no {read_kind} completed")
    return {"setup_s": setup_s, "query_p50_ms": pct(lat, 50),
            "query_p90_ms": pct(lat, 90),
            "queries_per_s": len(lat) / rec["timed_wall_s"],
            "heap_after_gc_mb": rec["heap_after_gc_mb"]}


def layer_metrics(rec, read_kind, plan):
    ops = [o for o in rec["ops"] if o["ok"]]
    tr = [o for o in ops if o["traced"]]
    n = max(len(tr), 1)
    tot = lambda k, xs=tr: sum(o.get(k, 0.0) for o in xs)
    m = {"table.build_ms": tot("build_ms") / n,
         "catalyst.analysis_ms": tot("analysis_ms") / n,
         "catalyst.optimization_ms": tot("optimization_ms") / n,
         "catalyst.planning_ms": tot("planning_ms") / n,
         "plans.rule_ms": tot("plans_rule_ms") / n,
         "plans.rule_effective_ratio":
             tot("plans_rule_effective") / max(tot("plans_rule_invocations"), 1.0),
         "codegen.compiles": tot("compiles") / n,
         "codegen.compile_ms": tot("compile_ms") / n,
         "exec.wall_ms": tot("exec_ms") / n,
         "exec.task_run_ms": tot("task_run_ms") / n,
         "exec.task_cpu_ms": tot("task_cpu_ms") / n,
         "exec.gc_ms": tot("gc_ms") / n,
         "exec.shuffle_write_bytes": tot("shuffle_write_bytes") / n,
         "exec.shuffle_read_bytes": tot("shuffle_read_bytes") / n,
         "exec.spill_bytes": tot("spill_bytes") / n,
         "exec.jobs": tot("jobs") / n, "exec.stages": tot("stages") / n,
         "exec.tasks": tot("tasks") / n,
         "exec.idle_core_frac":
             1.0 - tot("task_run_ms") / max(tot("exec_ms") * CORES, 1e-9)}
    for op in INDEX_OPS:
        xs = [o for o in tr if o["kind"] == op]
        k = max(len(xs), 1)
        m[f"index.{op}.catalog_events"] = tot("catalog_events", xs) / k
        m[f"index.{op}.jobs"] = tot("jobs", xs) / k
        m[f"index.{op}.bytes_written"] = tot("bytes_written", xs) / k
        m[f"index.{op}.task_run_ms"] = tot("task_run_ms", xs) / k
    for op in ["append", "takedown", "compact"]:
        lat = [o["lat_ms"] for o in ops if o["kind"] == op]
        m[f"index.{op}_p50_ms"] = statistics.median(lat) if lat else 0.0
    days = [d for d in rec.get("index_days", []) if d["timed"]]
    m["index.live_files"] = float(days[-1]["live_files"]) if days else 0.0
    m["index.table_bytes"] = float(days[-1]["table_bytes"]) if days else 0.0
    if plan and days:
        timed = {d["day"] for d in days}
        appended = sum(plan["days"][d]["appended_raw_bytes"] for d in timed)
        written = sum(o.get("bytes_written", 0.0) for o in tr
                      if o["kind"] in ("append", "takedown", "compact"))
        m["index.write_amp"] = written / appended
        m["index.space_amp"] = days[-1]["table_bytes"] / \
            plan["days"][days[-1]["day"]]["live_raw_bytes"]
    else:
        m["index.write_amp"] = m["index.space_amp"] = 0.0
    # tracing overhead: traced vs untraced read ops of this same run
    reads = [o for o in ops if o["kind"] == read_kind]
    t = [o["lat_ms"] for o in reads if o["traced"]]
    u = [o["lat_ms"] for o in reads if not o["traced"]]
    if t and u:
        m["trace_overhead.query_p50_ms"] = pct(t, 50) / pct(u, 50) - 1.0
        m["trace_overhead.query_p90_ms"] = pct(t, 90) / pct(u, 90) - 1.0
        m["trace_overhead.queries_per_s"] = (sum(u) / len(u)) / (sum(t) / len(t)) - 1.0
    else:
        for k in ["query_p50_ms", "query_p90_ms", "queries_per_s"]:
            m[f"trace_overhead.{k}"] = 0.0
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(root, "tools", "check.py")):
        fail("run from the root of a checkout of the engine (src/, tools/)")
    classes, jars, build_s = build.build(root)

    work = os.path.abspath(os.path.join(RUN_DIR, a.workload))
    shutil.rmtree(work, ignore_errors=True)  # run isolation: nothing survives
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "results"))
    plan = make_inputs(a.workload, a.seed, data, a.seconds)
    t_inputs = time.time()
    p = WORKLOADS[a.workload]
    out = os.path.join(work, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out]
    if a.workload == "index_day":
        args += ["--days", str(len(plan["days"])), "--probes", str(p["probes"]),
                 "--min_j", str(p["min_j"])]
        for d in plan["days"]:
            d["result"] = os.path.join(work, "results", d["name"], "audit")
    t_jvm = time.time()
    run_jvm(classes, jars, args, work, a.seconds)
    t_jvm_end = time.time()
    with open(out) as fh:
        rec = json.load(fh)

    import answers  # needs tools/check.py, present once the checkout is verified
    if a.workload == "index_day":
        # the untimed warm-up day is checked too
        bad = answers.check_audits(plan, rec["days_run"])
        read_kind = "probe"
    else:
        bad = answers.check_dsl(data, os.path.join(work, "results"))
        read_kind = "query"
    for b in bad:
        sys.stderr.write(f"perfbench: wrong answer: {b}\n")
    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    setup_s = rec["first_timed_ms"] / 1000.0 - T_START - build_s
    if rec.get("out_of_days"):
        sys.stderr.write(f"perfbench: the generated days ran out after "
                         f"{rec['timed_wall_s']:.1f} s of the {a.seconds} s asked for\n")
    if a.trace:
        metrics, spec = layer_metrics(rec, read_kind, plan), SPEC["per_layer"]
    else:
        metrics, spec = e2e_metrics(rec, read_kind, setup_s), SPEC["end_to_end"]
    if set(metrics) != {m["name"] for m in spec}:
        fail(f"metrics {sorted(metrics)} differ from BENCHMARK.json")
    marks = {"inputs": t_inputs, "jvm_start": t_jvm, **{k: v / 1000 for k, v in rec["marks"].items()},
             "jvm_end": t_jvm_end, "checked": time.time()}
    phases = {k: round(v - T_START - build_s, 3) for k, v in marks.items()}
    host = dict(rec["host"], workload=a.workload, seed=a.seed, build_s=build_s, phases=phases,
                timed_wall_s=rec["timed_wall_s"], ops=len(ops))
    with open(os.path.join(work, "trace.json"), "w") as fh:
        json.dump({"host": host, "metrics": metrics, "record": rec}, fh)
    print("host " + json.dumps(host))
    result = {"correct": not bad, "attempted": len(ops), "failed": failed,
              "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                          for m in spec}}
    print(json.dumps(result))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
