#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation, in its own JVM.

    python3 perfbench/run.py --workload qa_session --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload, small, with checks

Steps: build the tree under test (perfbench/build.py; skipped when the same
tree was built before), generate the seeded inputs, run graftbench.Harness
in a JVM with its own temp and Spark local directories, check the outputs
against independent computations (perfbench/checks.py), and print one JSON
line: {"correct", "attempted", "failed", "metrics"}. --trace 1 registers the
harness's Spark listeners and reports the per-layer metrics instead of the
end-to-end ones. Build, input generation and JVM launch are outside every
metric.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["qa_session", "upload_churn", "fleet_slice"]
CORES = min(2, os.cpu_count() or 1)
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# Sizes and warm-up lengths (README "Warm-up" explains the choices).
FULL = dict(qa_rows=5000, qa_warmup_ops=32, churn_rows=20000, churn_warmup=8,
            churn_files=60, fleet_sf=0.1, fleet_warmup_passes=1, fleet_min_passes=3, qa_min_rounds=2,
            setup_repeats=4, heap="2g", fleet_heap="3g")
SMOKE = dict(qa_rows=2000, qa_warmup_ops=16, qa_min_rounds=1, churn_rows=2000, churn_warmup=2,
             churn_files=12, fleet_sf=0.01, fleet_warmup_passes=1, fleet_min_passes=1,
             setup_repeats=1, heap="2g", fleet_heap="2g")


def members():
    path = os.path.join(HERE, "fleet_slice.txt")
    rows = [l.split("\t") for l in open(path) if l.strip() and not l.startswith("#")]
    return [r[1] for r in rows]


def du_mb(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / 1048576.0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_jvm(classes, props, heap, log):
    cp = os.pathsep.join([classes] + build.jars())
    opens = [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={props['tmp_dir']}", *opens,
           "-cp", cp, "graftbench.Harness", props["props_file"]]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=props["run_dir"])
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        tail = open(log, errors="replace").read()[-3000:]
        raise SystemExit(f"harness JVM failed ({rc}):\n{tail}")


def prepare(workload, seed, seconds, trace, sizes, run_dir):
    inputs = os.path.join(run_dir, "inputs")
    props = dict(workload=workload, cores=CORES, trace=trace, seconds=seconds,
                 setup_repeats=sizes["setup_repeats"], now=gen.NOW, run_dir=run_dir,
                 tmp_dir=os.path.join(run_dir, "tmp"),
                 local_dir=os.path.join(run_dir, "spark-local"),
                 out=os.path.join(run_dir, "result.json"),
                 props_file=os.path.join(run_dir, "run.properties"))
    for d in (inputs, props["tmp_dir"], props["local_dir"]):
        os.makedirs(d)
    if workload == "qa_session":
        props["csv"] = gen.qa_csv(os.path.join(inputs, "incidents.csv"), seed, sizes["qa_rows"])
        props["ops"] = os.path.join(inputs, "ops.tsv")
        props["round_ops"] = gen.qa_ops(props["ops"], seed, 200)
        props["warmup_ops"] = sizes["qa_warmup_ops"]
        props["min_rounds"] = sizes["qa_min_rounds"]
    elif workload == "upload_churn":
        props["files"] = os.path.join(inputs, "files.tsv")
        gen.churn_files(inputs, props["files"], seed, sizes["churn_files"], sizes["churn_rows"])
        props["warmup_files"] = sizes["churn_warmup"]
    else:
        props["sf_dir"] = os.path.join(inputs, "sf")
        gen.fleet_tables(props["sf_dir"], seed, sizes["fleet_sf"])
        props["members"] = ",".join(members())
        props["warmup_passes"] = sizes["fleet_warmup_passes"]
        props["min_passes"] = sizes["fleet_min_passes"]
        props["check_dir"] = os.path.join(run_dir, "check")
    with open(props["props_file"], "w") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    return props


def end_to_end(r, workload):
    keyed = {}
    for k, t in r["samples"]:
        keyed.setdefault(k, []).append(t)
    # each kind's best time in the window, as graft.Bench takes the best of
    # its passes: the host's CPU steal only ever adds time (README "Host
    # contention"). upload_churn uploads a different file each time, so there
    # the figure is the median upload, and answers are left out.
    if workload == "upload_churn":
        keyed = {"upload": [median(keyed["upload"])]}
    best = [min(v) for v in keyed.values()]
    return {
        "setup_s": (median(r["setup_s"]), "s"),
        "op_gmean_ms": (statistics.geometric_mean(best), "ms"),
        "round_s": (sum(best) / 1000.0, "s"),
        "cpu_per_op_ms": (r["window_cpu_ms"] / r["window_ops"], "ms"),
        "heap_live_mb": (r["heap_live_mb"], "MB"),
    }


def per_layer(r, workload, tmp_left_mb):
    t = r["trace"]
    idx = {f: i for i, f in enumerate(t["fields"])}
    ops = r["window_ops"]

    def total(section, field, phases=None, modules=None):
        s = 0.0
        for key, vals in t[section].items():
            ph, mod = key.split("|", 1)
            if (phases is None or ph in phases) and (modules is None or mod in modules):
                s += vals[idx[field]]
        return s

    def timer(name, section="timers"):
        n, ms = t[section].get(name, (0, 0.0))
        return n, ms

    # uploads: the set-up loads on qa_session, the timed uploads on upload_churn
    load_sec = "setup" if workload == "qa_session" else "window"
    loads, load_ms = timer("load", "setup_timers" if workload == "qa_session" else "timers")
    answers, exec_ms = timer("execute")
    _, collect_ms = timer("collect")
    n_gen, gen_ms = timer("rulegen")
    _, val_ms = timer("validate")
    builds, build_ms = timer("build")
    _, action_ms = timer("action")
    per = lambda x, n: x / n if n else 0.0
    task_cpu = total("window", "task_cpu_ms")
    m = {
        "engine.load_ms": per(load_ms, loads),
        "sources.read_ms": per(total(load_sec, "job_ms", {"load"}, {"sources"}), loads),
        "sources.read_jobs": per(total(load_sec, "jobs", {"load"}, {"sources"}), loads),
        "profiler.profile_ms": per(total(load_sec, "job_ms", {"load"}, {"profiler"}), loads),
        "rulegen.generate_us": per(gen_ms * 1000, n_gen),
        "validator.validate_us": per(val_ms * 1000, n_gen),
        "engine.execute_ms": per(exec_ms, answers),
        "engine.collect_ms": per(collect_ms, answers),
        "engine.probe_jobs": per(total("window", "jobs", {"execute"}), answers),
        "engine.scan_mb": per(total("window", "input_mb", {"execute", "collect"}), answers),
        "queries.build_ms": per(build_ms, builds),
        "queries.build_jobs": per(total("window", "jobs", {"build"}), builds),
        "queries.action_ms": per(action_ms, builds),
        "queries.action_jobs": per(total("window", "jobs", {"action"}), builds),
        "streaming.tmp_left_mb": tmp_left_mb,
        "spark.plan_ms": per(t["plan_ms"], ops),
        "spark.codegen_compiles": per(t["codegen_compiles"], ops),
        "spark.codegen_ms": per(t["codegen_ms"], ops),
        "jvm.jit_ms": per(t["jit_ms"], ops),
        "jvm.planning_cpu_ms": per(r["window_cpu_ms"] - task_cpu, ops),
        "jvm.gc_ms": per(t["gc_ms"], ops),
        "catalog.temp_views": r["temp_views"],
    }
    for f in ("jobs", "stages", "tasks", "task_ms", "task_cpu_ms", "shuffle_write_mb",
              "shuffle_read_records", "spill_mb"):
        m[f"spark.{f}"] = per(total("window", f), ops)
    units = {"_ms": "ms", "_us": "us", "_mb": "MB", "_jobs": "count",
             "_compiles": "count", "_views": "count"}
    out = {}
    for k, v in m.items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out[k] = (v, unit)
    return out


def run_one(workload, seed, seconds, trace, sizes):
    classes = build.classes_dir()
    run_dir = os.path.join(ROOT, ".bench_run", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        props = prepare(workload, seed, seconds, trace, sizes, run_dir)
        heap = sizes["fleet_heap"] if workload == "fleet_slice" else sizes["heap"]
        run_jvm(classes, props, heap, os.path.join(run_dir, "jvm.log"))
        # after the JVM has exited: what it left in its temp and local dirs
        tmp_left_mb = du_mb(props["tmp_dir"]) + du_mb(props["local_dir"])
        r = json.load(open(props["out"]))
        if workload == "fleet_slice":
            fails = checks.check_fleet(ROOT, props["sf_dir"], props["check_dir"], members())
            fails += [f"timed count differs from checked output: {x}" for x in r["inconsistent"]]
        else:
            fails = checks.check_answers(r, gen.NOW)
        for f in fails:
            print(f"[check] FAIL {workload}: {f}", file=sys.stderr)
        metrics = per_layer(r, workload, tmp_left_mb) if trace else end_to_end(r, workload)
        summary = {"window_start_s": round(r["window_start_s"], 2),
                   "window_s": round(r["window_s"], 2), "window_ops": r["window_ops"],
                   "round_steal": [round(x[3], 3) for x in r["rounds"]],
                   "setup_s": [round(x, 2) for x in r["setup_s"]]}
        print(f"[perfbench] {workload} seed {seed}: {json.dumps(summary)}", file=sys.stderr)
        failed = sum(r["failed"].values())
        for k, v in r["failed"].items():
            print(f"[perfbench] {workload}: {v} failed operations: {k}", file=sys.stderr)
        return {"correct": not fails, "attempted": r["attempted"], "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs and short warm-up; without --workload runs all")
    a = ap.parse_args()
    if a.smoke:
        ok = True
        for w in [a.workload] if a.workload else WORKLOADS:
            t0 = time.time()
            res = run_one(w, a.seed, min(a.seconds, 2), a.trace, SMOKE)
            ok &= res["correct"]
            print(f"[smoke] {w}: {time.time() - t0:.1f}s {json.dumps(res)}", file=sys.stderr)
        print(json.dumps({"smoke_ok": ok}))
        return 0 if ok else 1
    if not a.workload:
        ap.error("--workload is required")
    res = run_one(a.workload, a.seed, a.seconds, a.trace, FULL)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
