#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, per
end-to-end metric, the median and the spread (Q3 - Q1) / median, with the
quartiles of `statistics.quantiles(values, n=4)`.

    python3 perfbench/spread.py --workload mor_mixed --seeds 1 2 3 4 5 [--seconds 15]

Compare each spread with a third of the metric's `bound` in BENCHMARK.json.
Each run's full output is kept in `.bench_build/spread/<workload>-<seed>.out`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in a.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], stdout=subprocess.PIPE, text=True)
        keep = os.path.join(HERE, "..", ".bench_build", "spread")
        os.makedirs(keep, exist_ok=True)
        with open(os.path.join(keep, f"{a.workload}-{seed}.out"), "w") as f:
            f.write(out.stdout)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}")
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{m['name']}: median {med:.4g} spread {(q3 - q1) / med:.4f} "
              f"(bound {m['bound']}, target < {m['bound'] / 3:.4f})")


if __name__ == "__main__":
    main()
