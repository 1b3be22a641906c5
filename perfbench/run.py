#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each is there):
  glofas_day      the daily GloFAS job over a generated GRIB2 drop, then
                  seeded serving lookups against the Parquet it wrote;
  registry_sf0.01 one pass of 23 registry queries pinned by name;
  curate_stream   the seven-gate curation sink draining seeded drops.

Each run builds the program if its sources changed (perfbench/build.py),
generates the inputs from the seed (three times: set-up is measured as the
median of three), and runs the workload in one JVM on local[nproc]. With
--trace 0 it prints the end-to-end metrics; with --trace 1 the per-layer
ones, and the spans go to .bench_build/traces/. The exit code is 0 only
when every output check passed and no operation failed.

--size toy shrinks every input (sf0.001 tables, a 12 x 10 grid, two drops)
for the benchmark's self-test.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_glofas  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("glofas_day", "registry_sf0.01", "curate_stream")
SIZES = {
    # grid (ni, nj), registry scale factor, curate scale factor, drops
    "full": {"grid": (40, 30), "registry_sf": 0.01, "curate_sf": 0.1, "drops": 2},
    "toy": {"grid": (12, 10), "registry_sf": 0.001, "curate_sf": 0.001, "drops": 2},
}
SETUP_REPEATS = 3
JVM_HEAP = "3g"
TIMEOUT_S = 175
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def generate(workload, size, seed, inputs):
    """Writes the workload's inputs; returns the seconds it took."""
    t0 = time.perf_counter()
    shutil.rmtree(inputs, ignore_errors=True)
    os.makedirs(inputs)
    if workload == "glofas_day":
        gen_glofas.main(inputs, seed, *size["grid"])
    elif workload == "registry_sf0.01":
        gen_tables.main(inputs, size["registry_sf"])
        shutil.copy(os.path.join(HERE, "expected", f"registry_sf{size['registry_sf']}.tsv"),
                    os.path.join(inputs, "expected.tsv"))
    else:
        gen_tables.main(inputs, size["curate_sf"], llm_only=True)
        gen_tables.drops(os.path.join(inputs, "documents.parquet"),
                         os.path.join(inputs, "drops"), seed, size["drops"])
        shutil.copy(os.path.join(HERE, "expected", f"curate_sf{size['curate_sf']}.tsv"),
                    os.path.join(inputs, "expected.tsv"))
    return time.perf_counter() - t0


def java_cmd(classpath, work, main, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
            + opens + ["-cp", os.pathsep.join(classpath), main] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args()
    try:
        classpath = build.build()
    except (RuntimeError, OSError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    started = time.monotonic()  # a first run may also build; that is not counted
    size = SIZES[a.size]
    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        gen_s = [generate(a.workload, size, a.seed, inputs) for _ in range(SETUP_REPEATS)]
        out = os.path.join(work, "result.json")
        cmd = java_cmd(classpath, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--inputs", inputs, "--work", work,
            "--gen-s", ",".join(repr(g) for g in gen_s),
            "--cores", str(len(os.sched_getaffinity(0))), "--out", out])
        remaining = TIMEOUT_S - (time.monotonic() - started)
        try:
            proc = subprocess.run(cmd, stdout=sys.stderr, timeout=max(1.0, remaining))
        except subprocess.TimeoutExpired:
            print(f"{a.workload} did not finish within {TIMEOUT_S} s", file=sys.stderr)
            return 4
        if not os.path.exists(out):
            print(f"{a.workload} exited {proc.returncode} without a result", file=sys.stderr)
            return 5
        with open(out) as fh:
            result = json.load(fh)
        for p in result.pop("problems"):
            print(f"check failed: {p}", file=sys.stderr)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            traces = os.path.join(build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
