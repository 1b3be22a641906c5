#!/usr/bin/env python3
"""Run the benchmark over several seeds and workloads, appending one JSON
line per run (the result plus workload, seed, trace, exit code and wall
seconds) to a file that compare.py reads.

  python3 perfbench/series.py --out B.jsonl [--workloads a,b] [--seeds 1-10]
                              [--trace 0|1] [--seconds S]
                              [--baseline <parent checkout> --baseline-out A.jsonl]

Workloads default to all of BENCHMARK.json's, seconds to its run_seconds.
With --baseline, every seed runs once in the parent checkout and once in
this one, alternating which runs first, so that host drift falls on both
sides alike; then `compare.py A.jsonl B.jsonl` judges the pairs.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(root, command, workload, seed, a, out):
    t0 = time.monotonic()
    proc = subprocess.run(
        command + ["--workload", workload, "--seed", str(seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else {}
    except json.JSONDecodeError:
        result = {}
    result.update(workload=workload, seed=seed, trace=a.trace, exit=proc.returncode,
                  wall_s=round(time.monotonic() - t0, 1))
    with open(out, "a") as fh:
        fh.write(json.dumps(result) + "\n")
    print(f"{os.path.basename(out)}: {workload} seed {seed}: exit {proc.returncode}, "
          f"{result['wall_s']} s, correct {result.get('correct')}", file=sys.stderr)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--baseline")
    ap.add_argument("--baseline-out")
    a = ap.parse_args()
    if bool(a.baseline) != bool(a.baseline_out):
        ap.error("--baseline and --baseline-out go together")
    sides = [(ROOT, a.out)]
    if a.baseline:
        sides.append((os.path.abspath(a.baseline), a.baseline_out))
    for w in a.workloads.split(","):
        for i, seed in enumerate(seeds(a.seeds)):
            for root, out in (sides if i % 2 else sides[::-1]):
                run_one(root, bench["command"], w, seed, a, out)


if __name__ == "__main__":
    main()
