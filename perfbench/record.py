#!/usr/bin/env python3
"""Record the expected values the benchmark checks every run against.

  python3 perfbench/record.py registry <sf>   # e.g. 0.01, and 0.001 for the self-test
  python3 perfbench/record.py curate <sf>     # e.g. 0.1, and 0.001 for the self-test

registry: generates the tables, dumps every SparkEntry.queries result with
the program's own graft.Verify, requires the repo's DuckDB oracle compare
(tools/check.py) to pass on that dump, then writes each query's row count
and order-insensitive digest, taken from the dump and cross-checked against
a live run, to expected/registry_sf<sf>.tsv.

curate: lands the documents as drops and writes batch curateV3's verdict
for every document to expected/curate_sf<sf>.tsv. The verdicts do not
depend on the drop seed (domains never straddle a drop).

Rerun after changing a registry query, the curation gates or a generator.
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402


def main(what, sf):
    classpath = build.build()
    work = os.path.join(build.BUILD, f"record-{what}-sf{sf}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tables = os.path.join(work, "tables")
    out = os.path.join(HERE, "expected", f"{what}_sf{sf}.tsv")
    cores = str(len(os.sched_getaffinity(0)))
    if what == "registry":
        dump = os.path.join(work, "dump")
        gen_tables.main(tables, float(sf))
        subprocess.run(run.java_cmd(classpath, work, "graft.Verify", [tables, dump]),
                       cwd=ROOT, check=True, stderr=subprocess.DEVNULL)
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), tables, dump],
                       cwd=ROOT, check=True)
        args = ["registry", tables, dump, out, cores, work]
    else:
        gen_tables.main(tables, float(sf), llm_only=True)
        drops = os.path.join(work, "drops")
        gen_tables.drops(os.path.join(tables, "documents.parquet"), drops, 0,
                         run.SIZES["full"]["drops"])
        args = ["curate", drops, out, cores, work]
    subprocess.run(run.java_cmd(classpath, work, "perfbench.Record", args),
                   cwd=ROOT, check=True, stderr=subprocess.DEVNULL)
    shutil.rmtree(work)
    print(f"wrote {out}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
