#!/usr/bin/env python3
"""Steadiness of graft's benchmark: run one workload k times, each with
another seed, and print every metric's median, quartiles, min and max,
and its spread (the distance between the quartiles over the median).

    python3 perfbench/steady.py --workload <name> [--runs 10]

Run from the root of a source checkout, like run.py. The runs are
untraced, on seeds 1 to runs. The bounds in BENCHMARK.json are set from
this tool's spreads: each end-to-end bound should be at least three
times the spread seen here; the last column says whether it is.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="5 for a quick look while tuning")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values, shares, walls = {}, set(), []
    for seed in range(1, a.runs + 1):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.monotonic() - t0)
        if proc.returncode != 0:
            print(f"seed {seed}: run failed with exit code {proc.returncode}")
            sys.exit(1)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: outputs incorrect")
            sys.exit(1)
        shares.add(result["failed"] / result["attempted"])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
              + f" (run {walls[-1]:.0f} s)", flush=True)

    print(f"\n{a.workload}: {a.runs} runs, failed share {sorted(shares)}, "
          f"median run {statistics.median(walls):.0f} s")
    print(f"{'metric':20} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12} {'max':>12} {'spread':>7} "
          f"{'bound':>6} {'3x':>3}")
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        bound = bounds[name]
        print(f"{name:20} {med:12.5g} {q1:12.5g} {q3:12.5g} {min(vs):12.5g} {max(vs):12.5g} "
              f"{spread:7.3f} {bound:6} {'yes' if 3 * spread <= bound else 'no':>3}")


if __name__ == "__main__":
    main()
