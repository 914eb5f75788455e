#!/usr/bin/env python3
"""Interleaved, resumable parent/change A/B of the perfbench workloads.

    python3 tools/ab_pairs.py --parent <checkout> --change <checkout> \\
        --workload mor_mixed --seeds 2501 2502 ... --out plans/<name>
    python3 tools/ab_pairs.py --summary --workload mor_mixed --out plans/<name>

Each checkout is the root of a git checkout (a `git clone` of the parent
commit, and the change's tree). For every seed, in the order given, the
tool runs `python3 perfbench/run.py --workload <w> --seed <s> --seconds
<run_seconds> --trace 0` once in each checkout, one run at a time, where
<run_seconds> is the change checkout's BENCHMARK.json value, so both sides
run the length the benchmark sets. Pair i (from 0) runs the parent first
when i is even and the change first when i is odd. A run that takes longer
than TIMEOUT_S (the first build included) is stopped and recorded without
a result.

Output, in the layout `tools/ab_queries.py` reads:
  <out>/ab_<workload>.jsonl   one line per run: {"workload", "seed",
                              "pair", "side", "first", "result"}, where
                              `result` is the run's last JSON line (null
                              when the run printed none; "exit" then says
                              how it ended)
  <out>/logs/<side>-<workload>-<seed>.log   the run's stdout and stderr

A run is written as soon as it ends, so an interrupted A/B resumes where it
stopped: a (workload, seed, side) already in the JSONL is not run again
(delete its line to run it again).

At the end, and alone with `--summary`, it prints for each end-to-end
metric that the change checkout's BENCHMARK.json names (this checkout's
with `--summary`): both sides' medians over the complete pairs, the
parent's interquartile range (`statistics.quantiles(n=4)`), the pairs each
side won, and each side's failed operations and runs without a result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SIDES = ("parent", "change")
TIMEOUT_S = 1200


def load(path):
    """The JSONL's records, in file order."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run_one(checkout, workload, seed, seconds, log_path):
    """One perfbench run in `checkout`: (result or None, exit description)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=checkout, stdout=log, stderr=subprocess.STDOUT,
                               timeout=TIMEOUT_S)
            code = f"exit {p.returncode}"
        except subprocess.TimeoutExpired:
            code = f"timeout after {TIMEOUT_S} s"
    result = None
    with open(log_path) as log:
        for line in log:
            line = line.strip()
            if line.startswith("{") and '"metrics"' in line:
                try:
                    result = json.loads(line)
                except json.JSONDecodeError:
                    pass
    return result, code


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summary(records, workload, spec):
    """Print the per-metric comparison of one workload's records."""
    runs = {}
    for r in records:
        if r["workload"] == workload:
            runs[(r["seed"], r["side"])] = r
    seeds = sorted({s for s, _ in runs}, key=lambda s: (len(s), s))
    print(f"== {workload}: {len(seeds)} seeds ==")
    for side in SIDES:
        rs = [runs[(s, side)] for s in seeds if (s, side) in runs]
        failed = sum(r["result"]["failed"] for r in rs if r["result"])
        attempted = sum(r["result"]["attempted"] for r in rs if r["result"])
        incorrect = sum(1 for r in rs if r["result"] and not r["result"]["correct"])
        missing = [r["seed"] for r in rs if not r["result"]]
        print(f"{side}: {len(rs)} runs, failed operations {failed}/{attempted}, "
              f"incorrect runs {incorrect}, runs without a result {len(missing)}"
              + (f" (seeds {' '.join(missing)})" if missing else ""))
    print(f"{'metric':<14}{'pairs':>6}{'parent med':>12}{'change med':>12}{'delta':>9}"
          f"{'parent IQR':>12}{'change won':>12}{'parent won':>12}")
    for m in spec["end_to_end"]:
        name = m["name"]
        pairs = []
        for s in seeds:
            p, c = runs.get((s, "parent")), runs.get((s, "change"))
            if p and c and p["result"] and c["result"]:
                pairs.append((p["result"]["metrics"][name]["value"],
                              c["result"]["metrics"][name]["value"]))
        if not pairs:
            print(f"{name:<14}{0:>6}")
            continue
        ps = [p for p, _ in pairs]
        cs = [c for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        q1, q3 = quartiles(ps)
        lower_better = m.get("better", "lower") == "lower"
        change_won = sum((c < p) if lower_better else (c > p) for p, c in pairs)
        parent_won = sum((p < c) if lower_better else (p > c) for p, c in pairs)
        delta = f"{(cm / pm - 1) * 100:+.1f}%" if pm else "n/a"
        print(f"{name:<14}{len(pairs):>6}{pm:>12.4g}{cm:>12.4g}{delta:>9}{q3 - q1:>12.4g}"
              f"{change_won:>12}{parent_won:>12}   {m['unit']}, bound {m.get('bound')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="root of the parent checkout")
    ap.add_argument("--change", help="root of the change checkout")
    ap.add_argument("--workload", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", help="one pair per seed, in this order")
    ap.add_argument("--out", required=True, help="directory for the JSONL and logs")
    ap.add_argument("--summary", action="store_true", help="only print the summary")
    a = ap.parse_args()
    spec_root = a.change if a.change and not a.summary else os.path.join(HERE, "..")
    with open(os.path.join(spec_root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not a.summary:
        if not (a.parent and a.change and a.seeds):
            ap.error("--parent, --change and --seeds are required unless --summary")
        checkouts = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
        seconds = spec["run_seconds"]
        os.makedirs(os.path.join(a.out, "logs"), exist_ok=True)
        for workload in a.workload:
            path = os.path.join(a.out, f"ab_{workload}.jsonl")
            done = {(r["seed"], r["side"]) for r in load(path)}
            for i, seed in enumerate(a.seeds):
                order = SIDES if i % 2 == 0 else SIDES[::-1]
                for side in order:
                    if (seed, side) in done:
                        continue
                    log = os.path.join(a.out, "logs", f"{side}-{workload}-{seed}.log")
                    t0 = time.time()
                    result, code = run_one(checkouts[side], workload, seed, seconds, log)
                    rec = {"workload": workload, "seed": seed, "pair": i, "side": side,
                           "first": order[0], "result": result}
                    if result is None:
                        rec["exit"] = code
                    with open(path, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    figs = " ".join(f"{k}={v['value']:.4g}"
                                    for k, v in (result or {}).get("metrics", {}).items())
                    print(f"{workload} seed {seed} pair {i} {side}: {code}, "
                          f"{time.time() - t0:.0f} s, {figs or 'no result'}", flush=True)
    for workload in a.workload:
        summary(load(os.path.join(a.out, f"ab_{workload}.jsonl")), workload, spec)


if __name__ == "__main__":
    main()
