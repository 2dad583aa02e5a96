#!/usr/bin/env python3
"""Benchmark of the medallion backfill and two query mixes.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the program and perfbench/src with
sbt (perfbench/src is added as a source directory on sbt's command line)
into target/; later runs reuse the classes while the sources are unchanged.
A run then starts one JVM on local[N], N = min(4, cores), which sets up and
warms up, times whole rounds of the workload for --seconds, and writes its
figures. This script checks the outputs, prints one JSON line and removes
the run's directory. --trace 1 also records spans around every call into
the program and writes them to .bench_build/traces/.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # a run writes nothing under perfbench/

WORKLOADS = ("pipeline_backfill", "queries_compute", "queries_lake_stream")
DATA_DIR = "/root/testdata/sf0.01"
BACKFILL_DAYS = 2
WARM_DAYS = 1
JVM_TIMEOUT_S = 165
BUILD_DIR = ".bench_build"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {"setup_s": "s", "round_s": "s", "round_cpu_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles once per source state; returns the runtime classpath."""
    stamp = os.path.join(root, BUILD_DIR, "classpath.json")
    digest = source_hash(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["hash"] == digest:
            return saved["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    src = os.path.relpath(os.path.join(HERE, "src"), root)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f'set Compile / unmanagedSourceDirectories += baseDirectory.value / "{src}"',
           "compile", "export Runtime / fullClasspath"]
    p = subprocess.run(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    return classpath


def run_jvm(root, classpath, run_dir, args, deadline):
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dderby.system.home={run_dir}/derby",
              "-cp", classpath, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    if not os.path.isdir(DATA_DIR):
        fail(f"{DATA_DIR} not found")
    import check  # after the checks above: needs duckdb and pandas
    import gen

    classpath = build(root)
    setup_start = time.time()
    run_dir = os.path.join(root, BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "outputs", "derby"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        args = ["--workload", a.workload, "--run-dir", run_dir,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(min(4, os.cpu_count() or 1)), "--data", DATA_DIR]
        if a.trace:
            traces = os.path.join(root, BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--trace-file", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
        if a.workload == "pipeline_backfill":
            landing = os.path.join(run_dir, "landing")
            warm = os.path.join(run_dir, "warm-landing")
            records = gen.generate(a.seed, datetime.date(2024, 1, 1), BACKFILL_DAYS, landing)
            gen.generate(a.seed + 1_000_003, datetime.date(2023, 6, 1), WARM_DAYS, warm)
            args += ["--landing", landing, "--warm-landing", warm]
        run_jvm(root, classpath, run_dir, args, setup_start + JVM_TIMEOUT_S)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        setup_s = res["timed_start_ms"] / 1000.0 - setup_start
        rounds = res["rounds"]
        failed = res["failed"]
        if a.workload == "pipeline_backfill":
            problems = [m for r in rounds for m in check.check_pipeline(r["root"], records)]
        else:
            problems, bad = check.check_queries(
                DATA_DIR, os.path.join(run_dir, "outputs"), rounds,
                os.path.join(root, BUILD_DIR, "oracle-cache"))
            # a query whose output is wrong fails in every round it ran
            failed = sum(1 for r in rounds for q, n in r["rows"].items()
                         if n < 0 or q in bad)
        for m in problems:
            print(f"perfbench: check failed: {m}", file=sys.stderr)
        if a.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
        else:
            metrics = {
                "setup_s": setup_s,
                "round_s": statistics.median(r["round_s"] for r in rounds),
                "round_cpu_s": statistics.median(r["round_cpu_s"] for r in rounds),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
        return 0 if not problems else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
