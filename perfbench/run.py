#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark (an sbt
build in perfbench/ that compiles the checkout's program as a source
dependency) and writes perfbench/target/launch.txt; later runs start the
JVM directly. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 the per_layer
ones. A full report (samples, machine-state sentinels, per-span table) goes
to perfbench/out/. Exits 1 when an output check fails, 2 when the checkout
holds no program to benchmark, 3 when the build fails.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

import layers
import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
# A fixed heap: peak RSS then reads touched heap plus native memory, not
# how far the collector chose to grow the heap in this run.
HEAP = ["-Xms3g", "-Xmx3g"]
# Each workload's operation as the call kinds it is made of, and how many
# calls of each kind it makes. A lake_daily operation is one API cycle
# (ApiMixed.cycles: an insert, a present and an absent lookup, a range
# search); an admit_stream operation is one micro-batch.
OPERATION = {
    "lake_daily": {"insert_ms": 1, "lookup_ms": 2, "range_ms": 1},
    "admit_stream": {"op_ms": 1},
}


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build(log_dir):
    launch = os.path.join(TARGET, "launch.txt")
    stamp_file = os.path.join(TARGET, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as out:
        try:
            code = subprocess.run(
                ["sbt", "--batch", "-Dsbt.server.autostart=false", "writeLaunch"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            code = -1
    if code != 0 or not os.path.exists(launch):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(3, f"build failed (exit {code}); log above")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(launch, args, work, deadline):
    with open(launch) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [java, *jvm_opts, *HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(cores()), "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail_lines = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail_lines) + "\n")
        fail(1, f"benchmark JVM ended with {code}")
    with open(out) as f:
        return json.load(f)


def end_to_end(run, workload):
    """The end-to-end metrics of an untraced run."""
    s, v = run["samples"], run["values"]
    return {
        "setup_s": v["session_s"] + stats.median(s["setup_repeat_s"]),
        "peak_rss_mb": v["peak_rss_mb"],
        "load_s": stats.median(s["load_s"]),
        "op_ms": stats.mix_mean(s, OPERATION[workload]),
        "maint_s": stats.median(s["maint_s"]),
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    start = time.monotonic()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail(2, "no BENCHMARK.json at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(2, f"unknown workload {args.workload}; known: {', '.join(names)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, "the checkout holds no program sources (build.sbt, src/main/scala/graft)")

    scratch = os.path.join(BENCH, ".run")
    os.makedirs(scratch, exist_ok=True)
    launch = ensure_build(scratch)
    built_s = time.monotonic() - start
    work = os.path.join(scratch, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    try:
        result = run_jvm(launch, args, work, time.monotonic() + RUN_LIMIT_S - min(built_s, 5.0))
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), stem + ".log")
        shutil.rmtree(work, ignore_errors=True)
    run, trace = result["run"], result["trace"]

    if args.trace:
        metrics, notes, table = layers.per_layer(trace, run)
        wanted = spec["per_layer"]
    else:
        metrics, notes, table, wanted = end_to_end(run, args.workload), {}, None, spec["end_to_end"]
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}
    attempted, failed = run["attempted"], run["failed"]
    for name, m in out.items():
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            failed = max(failed, 1)
            run["failures"].append(f"metric {name} is not a finite number")
        elif not args.trace and m["value"] <= 0:
            failed = max(failed, 1)
            run["failures"].append(f"metric {name} is {m['value']}")
    correct = failed == 0

    report = stem + ".json"
    with open(report, "w") as f:
        json.dump({"args": vars(args), "metrics": out, "notes": notes, "run": run,
                   "span_table": table, "trace": trace}, f, indent=1)

    v = run["values"]
    print(f"# workload {args.workload} seed {args.seed}: {attempted} ops, {failed} failed")
    for failure in run["failures"]:
        print(f"# check failed: {failure}")
    if "sentinel_cpu_s" in v:
        print(f"# sentinels: cpu {v['sentinel_cpu_s']:.3f} s, shuffle {v['sentinel_shuffle_s']:.3f} s")
    for name, m in out.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"# {name} = {m['value']:.6g} {m['unit']}{note}")
    if table:
        print("# span                      count    wall_s    self_s  jobs   task_s")
        for name, r in sorted(table.items()):
            print(f"# {name:<24} {r['count']:5.0f} {r['wall_s']:9.3f} {r['self_s']:9.3f} "
                  f"{r['jobs']:5.0f} {r['task_s']:8.3f}")
    print(f"# report: {os.path.relpath(report, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
