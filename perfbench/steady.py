#!/usr/bin/env python3
"""Steadiness runner: repeat one workload over several seeds and summarise.

Usage (from the root of a checkout):
    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
                                [--seconds <s>] [--trace 0|1|both]

Runs perfbench/run.py once per seed (first-seed, first-seed+1, ...) and
prints, for every metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median), next to the metric's bound
from BENCHMARK.json. A spread above a third of the bound is marked '!', above
the bound '!!'. With --trace both, each seed also gets a traced run, and the
tracing overhead is the traced median of each end-to-end metric over the
untraced one (the traced run's end-to-end values are in its run record).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed} trace {trace}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".bench_build", "runs",
                           f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        record = json.load(fh)
    return result, record


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("inf")
    return med, q1, q3, spread


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0", choices=["0", "1", "both"])
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    modes = [0, 1] if a.trace == "both" else [int(a.trace)]
    seeds = range(a.first_seed, a.first_seed + a.runs)
    results = {m: [] for m in modes}
    records = {m: [] for m in modes}
    failed = attempted = 0
    for s in seeds:
        for m in modes:
            res, rec = run(a.workload, s, seconds, m)
            results[m].append(res)
            records[m].append(rec)
            failed += res["failed"]
            attempted += res["attempted"]
            print(f"seed {s} trace {m}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", file=sys.stderr)
    print(f"{a.workload}: {len(seeds)} seeds, {seconds} s runs, "
          f"fail_ratio={failed / max(attempted, 1):.4g}")
    for m in modes:
        print(f"-- trace {m}: metric  median  q1  q3  spread  bound")
        names = [n for n in results[m][0]["metrics"]
                 if all(n in r["metrics"] for r in results[m])]
        for n in names:
            vals = [r["metrics"][n]["value"] for r in results[m]]
            unit = results[m][0]["metrics"][n]["unit"]
            med, q1, q3, spread = summary(vals)
            b = bounds.get(n)
            flag = ""
            if b is not None and n != "setup_s":
                flag = "!!" if spread > b else "!" if spread > b / 3 else ""
            print(f"{n:48s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f} "
                  f"{'' if b is None else b:>6} {unit} {flag}")
    if len(modes) == 2:
        print("-- tracing overhead (traced median / untraced median - 1)")
        for n in results[0][0]["metrics"]:
            un = statistics.median(r["metrics"][n]["value"] for r in results[0])
            tr = statistics.median(r["metrics"][n]["value"] for r in records[1])
            print(f"{n:48s} {tr / un - 1:+.4f}")


if __name__ == "__main__":
    main()
