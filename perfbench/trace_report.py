#!/usr/bin/env python3
"""One traced and one untraced run per workload, same seed, written as
one JSON file: the per-layer metrics, the untraced end-to-end metrics
and the tracing overhead.

    python3 perfbench/trace_report.py --seed 1 --seconds 7 --out perfbench/results/trace_seed1.json

Run from the repository root. The overhead compares the traced run's own
view of a workload's end-to-end numbers (diff.rows_per_s, ...) with the
untraced run's items_per_s and call_s.p50.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# the traced run's names for each workload's items_per_s and call_s.p50
TRACED_VIEW = {
    "diff_snapshots": ("diff.rows_per_s", "diff.call_s.p50"),
    "curate_dedup": ("curate.docs_per_s", "curate.call_s.p50"),
    "ann_serve_ingest": ("ann.queries_per_s", "ann.query_s.p50"),
    "registry": ("registry.slots_per_s", "registry.total_s"),
}


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"trace_report: {workload} trace={trace} failed")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for w in TRACED_VIEW:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        rate, p50 = TRACED_VIEW[w]
        overhead = {"items_per_s": layers[rate] / e2e["items_per_s"],
                    "call_s.p50": layers[p50] / e2e["call_s.p50"]}
        report["workloads"][w] = {
            "untraced": {"correct": plain["correct"], "attempted": plain["attempted"],
                         "failed": plain["failed"], "metrics": e2e},
            "traced": {"correct": traced["correct"], "attempted": traced["attempted"],
                       "failed": traced["failed"], "metrics": layers},
            "traced_over_untraced": overhead,
        }
        print(w, json.dumps(overhead), flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
