#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload diff_snapshots --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark
(perfbench/build.py), then runs perfbench.Main in one JVM on
local[nproc] with one client thread. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}; with --trace 1 the
metrics are the per-layer ones and the per-call spans are written as
JSON lines under the build directory (see perfbench/README.md).
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("diff_snapshots", "curate_dedup", "ann_serve_ingest", "registry",
             "registry_full")
JVM_DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    """Tier-1 heap formula: half of MemTotal in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def jvm_flags(tmp):
    """The program's harness JVM settings (build.sbt's javaOptions),
    with the tier-1 heap instead of its 16g default. The young
    generation is fixed so that peak RSS follows the program's retained
    memory, not the collector's adaptive eden sizing. No perf-data file
    is written outside the checkout (-XX:-UsePerfData)."""
    flags = ["java", f"-Xmx{heap_gb()}g", "-Xmn1g", "-XX:+UseParallelGC",
             "-XX:-UsePerfData",
             "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build.build()
    out = build.build_dir()
    run_dir = os.path.join(out, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = os.cpu_count() or 1
    cmd = jvm_flags(tmp) + ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--run-dir", run_dir,
            "--data-dir", os.path.join(out, "data"),
            "--trace-dir", os.path.join(out, "traces"), "--bench-dir", HERE]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    deadline = time.monotonic() + JVM_DEADLINE_S
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = line[len("PERFBENCH_RESULT "):].strip()
            elif line.startswith("PERFBENCH "):
                print(line.rstrip(), file=sys.stderr, flush=True)
            if time.monotonic() > deadline:
                break
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        subprocess.run(["rm", "-rf", run_dir])
    if proc.returncode != 0 or result is None:
        sys.exit(f"perfbench: {args.workload} failed (jvm exit {proc.returncode})")
    check_names(json.loads(result)["metrics"], args.trace)
    print(result, flush=True)


def check_names(metrics, trace):
    """The metrics must be exactly the ones BENCHMARK.json declares."""
    if not os.path.exists("BENCHMARK.json"):
        return
    with open("BENCHMARK.json") as f:
        decl = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in decl}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(want) - set(got))}, "
                 f"undeclared {sorted(set(got) - set(want))}, "
                 f"unit mismatch {sorted(k for k in want if k in got and got[k] != want[k])}")


if __name__ == "__main__":
    main()
