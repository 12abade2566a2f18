#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <full_pass|daily_resume|corpus_funnel>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source (see build.py), then runs
one JVM: Spark in local mode on every core, one client calling the library
in a closed loop. Every file the run writes lives under one run-scoped
directory, `.bench_runs/<workload>-<seed>-<pid>`, deleted at exit. The last
line of standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The benchmark's workloads, metrics and
settings are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # a run writes nothing outside its directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RUNS = os.path.join(ROOT, ".bench_runs")
WORKLOADS = ("full_pass", "daily_resume", "corpus_funnel")
# a run must finish within 180 s; the JVM gets what the build left of that
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def driver_memory():
    """Half the machine's memory in GiB, clamped to [2, 8] (the formula the
    repository's test suite uses)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(8, max(2, int(line.split()[1]) // 2097152))}g"
    except OSError:
        pass
    return "2g"


def listing(skip):
    """Every path under the checkout, except the build and run directories."""
    paths = set()
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        paths.update(os.path.join(d, x) for x in dirs + files)
    return paths


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    started = time.monotonic()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()

    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    skip = {RUNS, os.path.dirname(build.out_dir()), os.path.join(ROOT, ".git")}
    before = listing(skip)
    out = os.path.join(run_dir, "result.json")
    mem = driver_memory()
    cmd = (["java", "-Xms2g", f"-Xmx{mem}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile="
            + os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--run-dir", run_dir, "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = None
    try:
        sys.stdout.flush()
        proc = subprocess.Popen(cmd, env=env, cwd=run_dir)
        budget = max(30.0, DEADLINE_S - (time.monotonic() - started))
        timer = threading.Timer(budget, proc.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
        if proc.returncode != 0 or not os.path.exists(out):
            sys.exit(f"run: the benchmark JVM exited with {proc.returncode}")
        with open(out) as fh:
            result = json.load(fh)
    finally:
        if proc is not None and proc.returncode is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    leaked = sorted(listing(skip) - before)
    for p in leaked:
        print(f"[perfbench] leaked path: {os.path.relpath(p, ROOT)}")
    # ru_maxrss of the waited-for JVM, in KiB on Linux
    rss_mb = usage.ru_maxrss / 1024
    print(f"[perfbench] {args.workload} peak_rss_mb {rss_mb:.6g} MB")
    metrics = result["metrics"]
    if args.trace == "1":
        metrics["fs.leaked_paths"] = {"value": len(leaked), "unit": "count"}
        metrics["host.peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
