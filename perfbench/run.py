#!/usr/bin/env python3
"""Seeded build + search benchmark for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload build|search-hot|search-open \
        --seed N --seconds S --trace 0|1 [--size default|tiny]

Builds the engine and the benchmark from source on first use (sbt, offline),
runs one workload for one seed in a fresh JVM, prints every metric with its
unit, the box profile and the host-contention gauges, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. Exits non-zero on a wrong top-k, a failed build invariant or an error.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
JSA = os.path.join(TARGET, "classes.jsa")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
CORPUS_CACHE_MAX = 24

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def box_profile():
    """local[N], heap and pool width from the CPUs this process may use and
    MemTotal: heap is a quarter of memory, clamped to [1, 6] GB."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    heap_mb = max(1024, min(6144, mem_mb // 4))
    return {"cores": cores, "mem_total_mb": mem_mb, "heap_mb": heap_mb}


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built():
    """Compile engine + benchmark with sbt when the sources changed; returns
    the runtime classpath."""
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and os.path.exists(JSA):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return [x for x in c.read().splitlines() if x]
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    # keep the build's scratch files inside the checkout
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    env["SBT_OPTS"] += " -XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(TARGET, "tmp")
    log_path = os.path.join(TARGET, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                             cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log_path})")
    if rc != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log: {log_path}")
    with open(cp_file) as c:
        classpath = [x for x in c.read().splitlines() if x]
    make_class_archive(classpath)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built engine + benchmark in {time.time() - t0:.1f}s", file=sys.stderr)
    return classpath


def make_class_archive(classpath):
    """Dump the classes one tiny run loads into a class-data-sharing archive:
    every later JVM maps them instead of loading and verifying ~15k Spark
    classes, which cuts several seconds of start-up per run. A failed dump
    fails the build, so every run of a comparison starts the same way."""
    jsa = JSA
    if os.path.exists(jsa):
        os.remove(jsa)
    run_dir = os.path.join(WORK, "archive-run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = jvm_cmd(classpath, run_dir, box_profile(), ["-XX:ArchiveClassesAtExit=" + jsa]) + [
        "--workload", "search-hot", "--seed", "1", "--seconds", "1", "--trace", "1",
        "--size", "tiny", "--out", os.path.join(run_dir, "result.json")]
    log_path = os.path.join(TARGET, "archive.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(run_dir), stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(jsa):
        if os.path.exists(jsa):
            os.remove(jsa)
        fail(f"class-data-sharing archive dump failed ({rc}); log: {log_path}")


def jvm_env(run_dir):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    return env


def jvm_cmd(classpath, run_dir, box, extra=()):
    """The benchmark JVM command up to its workload arguments."""
    # the default tiered compiler (C2), as the engine runs in production
    cmd = ["java", f"-Xmx{box['heap_mb']}m", "-XX:+ExitOnOutOfMemoryError", "-XX:-UsePerfData",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")] + list(extra)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
                  "--work", WORK, "--run", run_dir,
                  "--cores", str(box["cores"]), "--heap-mb", str(box["heap_mb"]),
                  "--mem-total-mb", str(box["mem_total_mb"])]


def prune_corpus_cache():
    d = os.path.join(WORK, "corpus")
    if not os.path.isdir(d):
        return
    entries = sorted((os.path.getmtime(os.path.join(d, e)), e) for e in os.listdir(d))
    for _, e in entries[:-CORPUS_CACHE_MAX]:
        shutil.rmtree(os.path.join(d, e), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "search-hot", "search-open"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default")
    # test hooks: corrupt one engine row before the oracle compare; delay
    # the open-loop generator by this many ms per request
    ap.add_argument("--perturb-check", type=int, choices=[0, 1], default=0)
    ap.add_argument("--gen-lag-ms", type=int, default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(spec_path):
        fail("engine sources (src/main/scala) or BENCHMARK.json not found next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    classpath = ensure_built()
    box = box_profile()
    prune_corpus_cache()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    # -Xshare:on: a JVM that cannot map the archive exits, so every run of
    # a comparison starts with it
    cmd = jvm_cmd(classpath, run_dir, box, ["-XX:SharedArchiveFile=" + JSA, "-Xshare:on"]) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size,
        "--out", out, "--perturb-check", str(args.perturb_check),
        "--gen-lag-ms", str(args.gen_lag_ms)]
    t0 = time.time()
    p = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(run_dir), stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s", 3)
    wall = time.time() - t0
    if not os.path.exists(out):
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM exited {rc} without a result", 3)
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    info = res.get("info", {})
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} size {args.size} wall {wall:.1f}s")
    print(f"box {info.get('profile', '')} cds_archive=on")
    print("host " + " ".join(f"{k}={info[k]}" for k in
                             ["host_ext_busy_frac", "host_steal_frac", "host_loadavg",
                              "own_cores", "window_s", "host_calib_ms", "host_calib_drift",
                              "dirty_window"] if k in info))
    for k, v in info.items():
        if k not in ("profile",) and not k.startswith("host_"):
            print(f"info {k} = {v}")
    for k, v in res.get("report", {}).items():
        print(f"report {k} = {v['value']} {v['unit']}")
    attempted, failed = res["attempted"], res["failed"]
    print(f"report error_rate = {failed / max(1, attempted)} failed/attempted")
    for k, v in res["metrics"].items():
        print(f"metric {k} = {v['value']} {v['unit']}")
    for e in res.get("errors", []):
        print(f"error {e}")

    metrics = {}
    missing = []
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None or v["value"] is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    correct = bool(res["correct"]) and not missing
    if missing:
        print(f"error metrics not measured: {', '.join(missing)}")
        failed += 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if (rc == 0 and correct) else 1)


if __name__ == "__main__":
    main()
