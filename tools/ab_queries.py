#!/usr/bin/env python3
"""Per-query CPU of a perfbench A/B, from the runs' logs.

    python3 tools/ab_queries.py --parent P1.log P2.log ... --change C1.log C2.log ...

Each log is the stdout of one `perfbench/run.py` run. The tool reads its
header (`perfbench workload=<w> seed=<n> ...`) and its sample lines
(`samples <kind> (ms wall/cpu/gc-cpu): w/c/g w/c/g ...`), and pairs the
parent and change runs of the same workload and seed.

A run's figure for a call kind is the median process CPU of the samples
that `step_cpu_ms` takes (the first steps, as the run's
`step_cpu_ms from the first steps:` line says); with that line missing,
of all its samples. So the kinds' figures, weighted as that line says,
add up to the run's `step_cpu_ms`.

For each kind it prints the median over the runs of each side, the
change in the median, the parent's interquartile range, and in how many
pairs each side was lower. That shows which call a change in
`step_cpu_ms` comes from.
"""
import argparse
import re
import statistics
import sys

HEADER = re.compile(r"^perfbench workload=(\S+) seed=(\S+)")
SAMPLES = re.compile(r"^samples (\S+) \(ms wall/cpu/gc-cpu\): (.*)$")
FIRST = re.compile(r"^step_cpu_ms from the first steps: (.*)$")


def read_log(path):
    """(workload, seed) and {kind: (figure, weight)} of one run log."""
    key, cpu, first = None, {}, {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            m = HEADER.match(line)
            if m:
                key = (m.group(1), m.group(2))
                continue
            m = SAMPLES.match(line)
            if m:
                cpu[m.group(1)] = [float(s.split("/")[1]) for s in m.group(2).split()]
                continue
            m = FIRST.match(line)
            if m:
                for part in m.group(1).split(", "):
                    kind, n, _, w = part.split()
                    first[kind] = (int(n), float(w))
    if key is None:
        return None, {}
    out = {}
    for kind, xs in cpu.items():
        n, w = first.get(kind, (len(xs), 1.0))
        if n > 0:
            out[kind] = (statistics.median(xs[:n]), w)
    return key, out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", nargs="+", required=True, help="parent run logs")
    ap.add_argument("--change", nargs="+", required=True, help="change run logs")
    a = ap.parse_args()
    sides = {}
    for side in ("parent", "change"):
        runs = {}
        for path in getattr(a, side):
            key, figs = read_log(path)
            if key is None:
                print(f"left out {path}: no 'perfbench workload=... seed=...' header "
                      "(an unfinished run?)")
                continue
            if key in runs:
                sys.exit(f"{path}: a second {side} run of {key[0]} seed {key[1]}")
            runs[key] = figs
        sides[side] = runs
    keys = sorted(set(sides["parent"]) & set(sides["change"]))
    unpaired = set(sides["parent"]) ^ set(sides["change"])
    if unpaired:
        print(f"unpaired runs left out: {sorted(unpaired)}")
    if not keys:
        sys.exit("no parent/change pair shares a workload and seed")
    kinds = []
    for k in keys:
        for kind in list(sides["parent"][k]) + list(sides["change"][k]):
            if kind not in kinds:
                kinds.append(kind)

    def per_run(side, kind):
        return [sides[side][k].get(kind, (None, 1.0)) for k in keys]

    rows = [(kind, per_run("parent", kind), per_run("change", kind)) for kind in kinds]
    # the weighted sum: each run's step_cpu_ms
    total = ("step_cpu_ms", *[[(sum(f * w for f, w in sides[s][k].values()), 1.0)
                                for k in keys] for s in ("parent", "change")])
    print(f"{len(keys)} pairs: " + ", ".join(f"{w} seed {s}" for w, s in keys))
    print(f"{'kind':<24}{'parent ms':>11}{'change ms':>11}{'delta':>9}"
          f"{'parent IQR':>12}{'change lower':>14}{'parent lower':>14}")
    for kind, p, c in rows + [total]:
        pairs = [(x[0], y[0]) for x, y in zip(p, c) if x[0] is not None and y[0] is not None]
        if not pairs:
            continue
        ps = [x for x, _ in pairs]
        cs = [y for _, y in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        q1, q3 = quartiles(ps)
        delta = f"{(cm / pm - 1) * 100:+.1f}%" if pm else "n/a"
        lower_c = sum(y < x for x, y in pairs)
        lower_p = sum(x < y for x, y in pairs)
        print(f"{kind:<24}{pm:>11.1f}{cm:>11.1f}{delta:>9}{q3 - q1:>12.1f}"
              f"{f'{lower_c}/{len(pairs)}':>14}{f'{lower_p}/{len(pairs)}':>14}")


if __name__ == "__main__":
    main()
