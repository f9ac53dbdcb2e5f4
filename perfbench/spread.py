#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload W [--runs 10] [--first-seed 1] [--seconds S]

Runs the benchmark once per seed (first-seed, first-seed + 1, ...) and prints, per
end-to-end metric, the median, the interquartile range as a share of the median
(statistics.quantiles(values, n=4)), and that share against a third of the metric's
bound in BENCHMARK.json; then the same spread for the unbounded wall-clock figures.
Every run's output is appended to --log when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--log", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {e["name"]: e["bound"] for e in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    values, wall = {}, {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "lines": lines[:-1],
                                    **result}) + "\n")
        for line in lines:
            if line.startswith("wall clock: "):
                for kv in line[len("wall clock: "):].split(" "):
                    if "=" in kv:
                        k, v = kv.split("=")
                        wall.setdefault(k, []).append(float(v))
        if not result["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed} done", file=sys.stderr)
    for k, vs in list(values.items()) + list(wall.items()):
        q1, med, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / statistics.median(vs)
        verdict = (f"bound/3 {bounds[k] / 3:6.3f}  {'ok' if share < bounds[k] / 3 else 'WIDE'}"
                   if k in bounds else "(wall clock, not bounded)")
        print(f"{k:24s} median {statistics.median(vs):12.4f}  iqr/median {share:6.3f}  "
              f"{verdict}")


if __name__ == "__main__":
    main()
