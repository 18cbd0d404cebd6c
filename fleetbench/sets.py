#!/usr/bin/env python3
"""Repeated sets of one workload, to see how steady its metrics are.

    python3 fleetbench/sets.py --workload fleet_ingest --sets 2 --runs 10

Each set runs the workload --runs times, each with another seed (set k,
counted from 1, uses seeds k*1000+1 ... k*1000+runs). For every end-to-end metric it
prints each set's median, first and third quartile, and the spread
(Q3 - Q1) / median, next to the metric's bound from BENCHMARK.json, and
the shift of each later set's median against the first. Run it from the
repository root; it runs one benchmark process at a time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets = []
    for k in range(args.sets):
        runs = [one_run(args.workload, (k + 1) * 1000 + i + 1, bench["run_seconds"])
                for i in range(args.runs)]
        sets.append(runs)
        print(f"set {k + 1}: correct {all(r['correct'] for r in runs)}, failed share "
              f"{sorted({r['failed'] / r['attempted'] for r in runs})}")
    first = {}
    for name, m in metrics.items():
        for k, runs in enumerate(sets):
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            shift = ""
            if k == 0:
                first[name] = med
            else:
                worse = (med - first[name]) if m["better"] == "lower" else (first[name] - med)
                shift = f"  worse-than-set-1 {worse / first[name]:+.3f}"
            print(f"{args.workload} {name:18s} set {k + 1}: median {med:.4g} {m['unit']}  "
                  f"Q1 {q1:.4g}  Q3 {q3:.4g}  spread {spread:.3f}  bound {m['bound']}{shift}")


if __name__ == "__main__":
    main()
