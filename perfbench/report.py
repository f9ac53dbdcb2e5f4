#!/usr/bin/env python3
"""Per-layer report with tracing overhead.

    python3 perfbench/report.py [--seed N] [--workload W ...]

For each workload, runs the benchmark untraced and then traced with the same seed,
and prints the traced run's per-layer self time and calls per operation, every other
per-layer metric, and the tracing overhead: each end-to-end metric of the traced run
minus the untraced run's.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    for w in a.workload:
        plain = run(w, a.seed, bench["run_seconds"], 0)["metrics"]
        traced = run(w, a.seed, bench["run_seconds"], 1)["metrics"]
        print(f"== {w} (seed {a.seed})")
        layers = sorted({k.split(".", 1)[1] for k in traced if k.startswith("self_ms.")})
        print(f"  {'layer':12s} {'self ms/op':>12s} {'calls/op':>10s}")
        for layer in layers:
            print(f"  {layer:12s} {traced['self_ms.' + layer]['value']:12.1f} "
                  f"{traced['calls.' + layer]['value']:10.2f}")
        for k, v in traced.items():
            if not k.startswith(("self_ms.", "calls.", "traced.")):
                print(f"  {k:34s} {v['value']:14.6g} {v['unit']}")
        print("  tracing overhead (traced - untraced):")
        for k, v in plain.items():
            t = traced[f"traced.{k}"]["value"]
            print(f"  {k:24s} {t - v['value']:+14.6g} {v['unit']} "
                  f"({(t - v['value']) / v['value']:+.1%})")


if __name__ == "__main__":
    main()
