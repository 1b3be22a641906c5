#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (sf0.001 tables, a 12 x 10 grid,
two drops):

  1. the failure accounting: an operation that throws on purpose counts as
     attempted and failed and enters no latency sample (perfbench.OpsCheck);
  2. every workload, untraced and traced, passes its output checks and
     prints exactly the metrics BENCHMARK.json names, each with its unit;
  3. a directory holding only BENCHMARK.json and perfbench/ makes the
     benchmark exit non-zero without printing a result.

  python3 perfbench/selftest.py
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

failures = []


def check(ok, what):
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        failures.append(what)


def last_json(stdout):
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    classpath = build.build()
    work = os.path.join(build.BUILD, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    proc = subprocess.run(run.java_cmd(classpath, work, "perfbench.OpsCheck", []),
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    check(proc.returncode == 0, "a throwing operation is counted failed and untimed "
          + proc.stderr.strip())

    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                bench["command"] + ["--workload", w["name"], "--seed", "7", "--seconds", "1",
                                    "--trace", str(trace), "--size", "toy"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            r = last_json(proc.stdout)
            what = f"{w['name']} trace {trace}"
            check(proc.returncode == 0 and r is not None and r["correct"],
                  f"{what}: exit 0 and correct" + (
                      "" if proc.returncode == 0 else f" ({proc.stderr.strip()[-600:]})"))
            if r is None:
                continue
            check(set(r) == {"correct", "attempted", "failed", "metrics"},
                  f"{what}: result keys")
            check(r["attempted"] >= 1 and r["failed"] == 0, f"{what}: attempted >= 1, none failed")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            check(set(got) == set(want), f"{what}: metric names match BENCHMARK.json "
                  f"(missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))})")
            check(all(got.get(k) == u for k, u in want.items()), f"{what}: units match")
            check(all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()),
                  f"{what}: every value is a number")

    bare = os.path.join(work, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    w = bench["workloads"][0]["name"]
    proc = subprocess.run(bench["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                              "--trace", "0"],
                          cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=180)
    check(proc.returncode != 0 and last_json(proc.stdout) is None,
          "without the program's sources the benchmark fails and prints no result")
    shutil.rmtree(work)
    print(f"\n{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
