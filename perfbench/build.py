#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program under test
(src/main/scala) and the benchmark's own code (perfbench/src) with the Scala
compiler that ships in the Spark distribution, into BUILD_DIR.

    python3 perfbench/build.py            # from the repository root

The output directory is $CARGO_TARGET_DIR when set, else .bench_build.
A stamp over every source file's path, size and content hash makes a
second build of unchanged sources a no-op.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys



def spark_jars():
    """The Spark distribution's jars: $SPARK_JARS, else $SPARK_HOME/jars,
    else the jars directory beside a spark-submit on PATH."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-library-*.jar")):
            return os.path.join(home, "jars")
    sys.exit("build: no Spark distribution found (set SPARK_HOME or SPARK_JARS)")


SPARK_JARS = spark_jars()
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join("src", "main", "scala")
PROGRAM_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def scala_sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def compiler_cp():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(SPARK_JARS, name + "-2.13.*.jar")))
        if not found:
            sys.exit(f"build: no {name} jar under {SPARK_JARS}")
        jars.append(found[-1])
    return os.pathsep.join(jars)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(sources, out, classpath):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp(),
           "scala.tools.nsc.Main", "-nowarn",
           "-Ybackend-parallelism", str(os.cpu_count() or 1),
           "-d", out, "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit(f"build: scalac failed on {len(sources)} files into {out}")


def build():
    """Return the classpath (program + benchmark + Spark) after building."""
    program = scala_sources(PROGRAM_SRC)
    bench = scala_sources(BENCH_SRC)
    if not program:
        sys.exit(f"build: no program sources under {os.path.join(ROOT, PROGRAM_SRC)}")
    if not bench:
        sys.exit(f"build: no benchmark sources under {os.path.join(ROOT, BENCH_SRC)}")
    out = build_dir()
    prog_out = os.path.join(out, "classes", "program")
    bench_out = os.path.join(out, "classes", "bench")
    spark_cp = os.path.join(SPARK_JARS, "*")
    resources = sorted(p for p in glob.glob(os.path.join(PROGRAM_RES, "**", "*"),
                                            recursive=True) if os.path.isfile(p))
    prog_stamp = stamp(program + resources)
    bench_stamp = stamp(bench) + prog_stamp
    for src, dst, st, cp in (
            (program, prog_out, prog_stamp, spark_cp),
            (bench, bench_out, bench_stamp, os.pathsep.join([prog_out, spark_cp]))):
        stamp_file = dst + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == st:
            continue
        shutil.rmtree(dst, ignore_errors=True)
        scalac(src, dst, cp)
        if dst == prog_out:
            for r in resources:
                target = os.path.join(dst, os.path.relpath(r, PROGRAM_RES))
                os.makedirs(os.path.dirname(target), exist_ok=True)
                shutil.copyfile(r, target)
        with open(stamp_file, "w") as f:
            f.write(st)
    return os.pathsep.join([bench_out, prog_out, spark_cp])


if __name__ == "__main__":
    print(build())
