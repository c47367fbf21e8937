#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from the checkout's sources when they
changed since the last build (sbt, offline; outputs under .bench_build/),
then runs the workload in one JVM and prints the result as the last line of
standard output:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The full run record (every metric, per-layer notes and each failed
operation with its cause) goes to .bench_build/runs/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ingest-push", "iterative-ml"]
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 800.0
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def wait(proc, limit_s):
    """Wait for a process started in its own session; on timeout kill the
    whole session (the JVMs it started included). Returns (code, stdout)."""
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources next to perfbench/: run from the root of a checkout")
    stamp = os.path.join(BUILD, "fingerprint")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == fp:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "writeClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = wait(subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=log, stderr=log,
                                   stdin=subprocess.DEVNULL, start_new_session=True),
                  BUILD_LIMIT_S)[0]
    if rc != 0 or not os.path.exists(cp_file):
        with open(os.path.join(BUILD, "build.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        die(f"build failed (exit {rc}); log in .bench_build/build.log", 3)
    with open(stamp, "w") as fh:
        fh.write(fp)
    with open(cp_file) as cf:
        return cf.read()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(BUILD, "logs")
    runs = os.path.join(BUILD, "runs")
    for d in (work, logs, runs):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--bench-dir", BENCH, "--work-dir", work,
            "--start-ms", str(int(time.time() * 1000))])
    log_path = os.path.join(logs, f"{tag}.log")
    with open(log_path, "w") as log:
        code, out = wait(subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                          stdin=subprocess.DEVNULL, start_new_session=True,
                                          text=True), RUN_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        die(f"{a.workload} did not finish within {RUN_LIMIT_S:.0f} s; log: {log_path}", 4)
    record = result = None
    for line in out.splitlines():
        if line.startswith("RECORD "):
            record = line[len("RECORD "):]
        elif line.startswith("RESULT "):
            result = line[len("RESULT "):]
    if code != 0 or result is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"{a.workload} exited {code} without a result; log: {log_path}", 5)
    if record is not None:
        with open(os.path.join(runs, f"{tag}.json"), "w") as fh:
            fh.write(record + "\n")
        for f in json.loads(record).get("failures", []):
            print(f"FAILED {json.dumps(f)}", file=sys.stderr)
    print(json.dumps(json.loads(result)))


if __name__ == "__main__":
    main()
