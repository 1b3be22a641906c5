#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program
(src/main/scala) and the benchmark harness (perfbench/src) with the Scala
compiler that ships with Spark, into .bench_build/program-<hash>/ and
.bench_build/harness-<hash>/. Unchanged sources reuse the previous build.

  python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise RuntimeError(f"no jars directory under SPARK_HOME ({home})")
    return jars


def scalac(jars, out, classpath, sources):
    compiler = [os.path.join(jars, f) for f in os.listdir(jars)
                if f.startswith(("scala-compiler_", "scala-compiler-", "scala-library-",
                                 "scala-reflect-"))]
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"scalac failed for {out}")


def source_hash(files, seed=b""):
    digest = hashlib.sha256(seed)
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()[:16]


def compiled(out, compile_into):
    """Returns `out`, compiling into a temporary directory first if absent."""
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            compile_into(tmp)
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def build():
    """Compiles what changed; returns the runtime classpath."""
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not program:
        raise RuntimeError("no program sources under src/main/scala")
    jars = spark_jars()
    all_jars = sorted(glob.glob(os.path.join(jars, "*.jar")))
    program_hash = source_hash(program)
    main = compiled(os.path.join(BUILD, f"program-{program_hash}"),
                    lambda tmp: scalac(jars, tmp, all_jars, program))
    harness = compiled(os.path.join(BUILD, f"harness-{source_hash(bench, program_hash.encode())}"),
                       lambda tmp: scalac(jars, tmp, [main] + all_jars, bench))
    return [main, harness, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
