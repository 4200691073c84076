#!/usr/bin/env python3
"""Runs one workload once per seed and prints, per end-to-end metric, the
median and the spread: (Q3 - Q1) / median over the runs, with the quartiles
of statistics.quantiles(values, n=4). A spread under a third of the metric's
bound in BENCHMARK.json means the metric is steady enough to gate on.

Usage, from the root of a checkout:
  python3 perfbench/spread.py <workload> <seed,seed,...> [seconds]

`seconds` defaults to BENCHMARK.json's run_seconds; the first line printed
names the run length used.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


def main():
    workload, seeds = sys.argv[1], [int(s) for s in sys.argv[2].split(",")]
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = sys.argv[3] if len(sys.argv) > 3 else str(bench["run_seconds"])
    print(f"{workload}: {len(seeds)} runs of --seconds {seconds}", flush=True)
    values = {}
    for seed in seeds:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        result = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
        if not result or not result["correct"]:
            print(f"seed {seed}: exit {p.returncode}, result {result}")
            continue
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()),
              flush=True)
        for line in p.stdout.splitlines()[:-1]:
            if line.startswith(("drain ", "host:")):
                print("  " + line, flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) > 1:
            s = benchlib.quartile_spread(vs)
            print(f"{k}: median={statistics.median(vs):.4f} spread={s:.4f} bound={bounds[k]} "
                  f"{'ok' if s < bounds[k] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
