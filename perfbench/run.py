#!/usr/bin/env python3
"""Benchmark of the kliospark engine: klio_batch and lake_mixed.

Run from the repository root:

    python3 perfbench/run.py --workload klio_batch --seed 1 --seconds 20 --trace 0

It builds the engine and the benchmark from source when they changed,
runs one workload in a fresh JVM, checks the outputs, and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The line before it holds the run's machine conditions. See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402

# Seconds one pass takes on a 4-core machine. The pass count is
# --seconds / pass_s, so a run's length is counted in ops and depends on
# --seconds alone: the same on every commit measured. `cores` is Spark's
# local[k] and `jvm` the JIT and GC settings (see README, "Runs are steady
# by construction"): lake_mixed's statements are planning-bound, and under
# the default tiered JIT its compile threads still ran for most of the
# measured window after warm-up, competing with the workload for the CPUs.
# `trace_passes` is the traced window's pass count with --trace 1.
WORKLOADS = {
    "klio_batch": {"pass_s": 8.0, "min_passes": 2, "trace_passes": 2,
                   "cores": 4, "jvm": []},
    "lake_mixed": {"pass_s": 8.0, "min_passes": 2, "trace_passes": 1,
                   "cores": 2,
                   "jvm": ["-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=1",
                           "-XX:ParallelGCThreads=2"]},
}
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jar directory the project's build declares."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        fail("no build.sbt here; run from the repository root")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no Spark jar directory that exists")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    if not main:
        fail("no engine sources under src/main/scala")
    return main, bench


def stamp_of(root, files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for p in sorted(glob.glob(os.path.join(root, "src/main/resources/**"),
                              recursive=True)):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def scalac(java, jars, classpath, out, files):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = [java, "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    p = subprocess.run(cmd + ["@" + argfile], capture_output=True, text=True)
    os.remove(argfile)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("compilation failed", 3)


def build(root, out, jars, java):
    """Compiles the engine and the benchmark into `out`/classes unless the
    sources are unchanged since the last build."""
    main, bench = sources(root)
    stamp = stamp_of(root, main + bench, jars)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, 0.0
    t0 = time.time()
    tmp = os.path.join(out, "classes.new")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scalac(java, jars, None, os.path.join(tmp, "main"), main)
    res = os.path.join(root, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, os.path.join(tmp, "main"), dirs_exist_ok=True)
    scalac(java, jars, os.path.join(tmp, "main"), os.path.join(tmp, "bench"),
           bench)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, time.time() - t0


def cpu_jiffies():
    """(total, iowait, steal) from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(v), v[4] if len(v) > 4 else 0, v[7] if len(v) > 7 else 0


def run_jvm(java, jars, classes, work, args, passes):
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([os.path.join(classes, "bench"),
                          os.path.join(classes, "main"),
                          os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    record = os.path.join(work, "record.json")
    w = WORKLOADS[args.workload]
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *w["jvm"],
           f"-Dperfbench.cores={w['cores']}", *opens,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--passes", str(passes), "--trace-passes", str(w["trace_passes"]),
           "--trace", str(args.trace),
           "--work", work, "--out", record]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.isfile(record):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM ended with {code}", 1)
    with open(record) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars(root)
    java = shutil.which("java")
    if not java:
        fail("no java on PATH")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(out, "perfbench")
    os.makedirs(out, exist_ok=True)
    classes, build_s = build(root, out, jars, java)

    w = WORKLOADS[args.workload]
    passes = max(w["min_passes"], round(args.seconds / w["pass_s"]))
    work = os.path.join(out, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    load = os.getloadavg()[0]
    j0 = cpu_jiffies()
    try:
        rec = run_jvm(java, jars, classes, work, args, passes)
        j1 = cpu_jiffies()
        failures = (checks.failed_ops(rec["ops"]) +
                    checks.failed_ops(rec["trace"].get("ops", [])) +
                    checks.record_checks(rec))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, info = metrics.end_to_end(rec)
    if args.trace:
        with open(os.path.join(out, f"trace-{args.workload}.json"), "w") as f:
            json.dump(rec, f)
        units = {m: u for m, u, _ in metrics.PER_LAYER}
        values = metrics.per_layer(rec, list(units))
        out_metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in values.items()}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    machine = {"load_avg_1m": load, "calib_ms": rec["calib_ms"],
               "jvm_cpu_ms": rec["jvm"]["cpu_ms"],
               "gc_count": rec["jvm"]["gc_count"], "gc_ms": rec["jvm"]["gc_ms"],
               "jit_ms": rec["jvm"].get("jit_ms", 0.0),
               "classes_loaded": rec["jvm"].get("classes_loaded", 0.0)}
    if j0 and j1 and j1[0] > j0[0]:
        machine["iowait_pct"] = 100.0 * (j1[1] - j0[1]) / (j1[0] - j0[0])
        machine["steal_pct"] = 100.0 * (j1[2] - j0[2]) / (j1[0] - j0[0])
    print(json.dumps({"info": {
        "workload": args.workload, "seed": args.seed, "passes": passes,
        "warm_passes": rec["warm_passes"], "build_s": build_s,
        "setup_s": rec["setup_s"], "setup_cold_s": rec["setup_cold_s"],
        "phases_s": rec["phases_s"], "drift": metrics.drift(rec["ops"]),
        "kind_ms": metrics.kind_medians(rec["ops"]),
        "pass_walls_s": rec["pass_walls_s"],
        "ops_ms": [round(o["ms"], 1) for o in rec["ops"]],
        "failures": failures[:20], "machine": machine, **info}}))
    attempted = len(rec["ops"]) + len(rec["checks"])
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out_metrics}))


if __name__ == "__main__":
    main()
