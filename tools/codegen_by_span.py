#!/usr/bin/env python3
"""Janino compiles per perfbench span.

Joins the compile log written through tools/log4j2-codegen.properties with
the spans a traced perfbench run writes (`--trace 1`; the runner copies
them to .bench_build/traces/<workload>-<seed>.jsonl) and prints, per span
name: how many spans of that name ran, the compiles inside them, how many
of those ran on the driver and how many in executor tasks, the distinct
generated sources, and the summed compile time. A compile belongs to the
innermost span whose [start, end] holds its timestamp; compiles outside
every span (set-up, warm pass, untraced steps, correctness checks) are
listed as `(outside spans)`.

Distinct sources need the source of each compile, which CodeGenerator logs
only at debug level: set `logger.codegen.level = debug` in a copy of the
properties file. At info level the column reads `-`. Spark's generated-code
cache is keyed by (classloader, source) and the driver and the tasks load
classes through different classloaders, so one class compiles at least
twice: once on each side.

Usage:
  JAVA_TOOL_OPTIONS="-Dlog4j2.configurationFile=$PWD/tools/log4j2-codegen.properties \\
    -Dgraft.codegen.log=/tmp/codegen.log" \\
    python3 perfbench/run.py --workload corpus_ops --seed 908 --seconds 10 --trace 1
  python3 tools/codegen_by_span.py /tmp/codegen.log .bench_build/traces/corpus_ops-908.jsonl
"""
import argparse
import datetime
import hashlib
import json
import re
import sys

# one record per log event: "<UTC timestamp> [<thread>] <message>"; a
# debug-level source dump continues on the following, unprefixed lines
RECORD = re.compile(r"^(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d\.\d{3}) \[(.*?)\] (.*)$")
COMPILED = re.compile(r"Code generated in ([0-9.]+) ms")
TASK_THREAD = "Executor task launch worker"


def records(path):
    """(epoch ms, thread, message) per log event, continuation lines joined."""
    cur = None
    with open(path, errors="replace") as f:
        for line in f:
            m = RECORD.match(line.rstrip("\n"))
            if m:
                if cur:
                    yield cur
                ts = datetime.datetime.strptime(m.group(1), "%Y-%m-%dT%H:%M:%S.%f")
                ms = ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000
                cur = (ms, m.group(2), m.group(3))
            elif cur:
                cur = (cur[0], cur[1], cur[2] + "\n" + line.rstrip("\n"))
    if cur:
        yield cur


def compiles(path):
    """(epoch ms, on a task thread, compile ms, source digest or None)."""
    last_source = {}  # thread -> digest of the source it logged last
    n_records = 0
    for ms, thread, msg in records(path):
        n_records += 1
        m = COMPILED.search(msg)
        if m:
            yield ms, thread.startswith(TASK_THREAD), float(m.group(1)), last_source.pop(thread, None)
        elif "/* 001 */" in msg:
            last_source[thread] = hashlib.sha1(msg.encode()).hexdigest()
    if n_records == 0:
        sys.exit(f"{path}: no log records in the format of tools/log4j2-codegen.properties")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("codegen_log")
    ap.add_argument("spans")
    a = ap.parse_args()

    spans = [json.loads(l) for l in open(a.spans) if l.strip()]
    order, per = [], {}

    def row(name):
        if name not in per:
            order.append(name)
            per[name] = {"spans": 0, "compiles": 0, "driver": 0, "task": 0,
                         "sources": set(), "ms": 0.0, "unknown": False}
        return per[name]

    for s in spans:
        row(s["name"])["spans"] += 1
    outside = "(outside spans)"
    for ms, task, cms, src in compiles(a.codegen_log):
        inside = [s for s in spans if s["start_ms"] <= ms <= s["end_ms"]]
        name = min(inside, key=lambda s: s["end_ms"] - s["start_ms"])["name"] if inside else outside
        r = row(name)
        r["compiles"] += 1
        r["task" if task else "driver"] += 1
        r["ms"] += cms
        if src is None:
            r["unknown"] = True
        else:
            r["sources"].add(src)

    total = {"spans": len(spans), "compiles": 0, "driver": 0, "task": 0,
             "sources": set(), "ms": 0.0, "unknown": False}
    width = max([len(n) for n in order] + [len(outside), 5])
    print(f"{'span':<{width}} {'spans':>5} {'compiles':>8} {'driver':>6} {'task':>6} "
          f"{'sources':>7} {'compile_ms':>10}")

    def line(name, r):
        src = "-" if r["unknown"] else str(len(r["sources"]))
        print(f"{name:<{width}} {r['spans']:>5} {r['compiles']:>8} {r['driver']:>6} "
              f"{r['task']:>6} {src:>7} {r['ms']:>10.1f}")

    for name in order:
        r = per[name]
        line(name, r)
        for k in ("compiles", "driver", "task", "ms"):
            total[k] += r[k]
        total["sources"] |= r["sources"]
        total["unknown"] |= r["unknown"]
    line("total", total)


if __name__ == "__main__":
    main()
