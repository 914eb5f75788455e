#!/usr/bin/env python3
"""Per-query Spark job breakdown from a Spark event log.

Reads one event log (plain JSON lines, or zstd-compressed — Spark's
default codec — decompressed through the `zstd` command-line tool) and
prints, for each SQL execution in start order: its start offset from the
application start, its jobs, executed stages (skipped stages excluded),
tasks, summed task CPU and task run time, and its description. `--jobs`
adds one line per job under its execution. Jobs started outside any SQL
execution (RDD actions, e.g. a `mapPartitions(...).collect()` on an RDD)
are listed under execution `-`.

Usage:
    python3 tools/eventlog_jobs.py <event log file or directory> [--jobs]

A directory is either one rolling (v2) event log — Spark 4's default
`eventlog_v2_<app>/events_<n>_<app>.zstd` — or holds application logs,
of which the newest is read.

Write an event log for a run by passing the Spark confs as JVM system
properties, e.g.
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
        -Dspark.eventLog.dir=file:///tmp/ev" <command that starts Spark>
(the directory must exist).
"""
import argparse
import json
import os
import subprocess
import sys
from collections import OrderedDict


def open_lines(path):
    """Yield the decoded JSON events of one event log file."""
    if path.endswith(".zst") or path.endswith(".zstd"):
        proc = subprocess.Popen(["zstd", "-dc", path], stdout=subprocess.PIPE)
        stream = proc.stdout
    else:
        proc, stream = None, open(path, "rb")
    try:
        for raw in stream:
            raw = raw.strip()
            if raw:
                yield json.loads(raw)
    finally:
        stream.close()
        if proc is not None and proc.wait() != 0:
            sys.exit(f"zstd -dc {path} failed with exit code {proc.returncode}")


def log_files(path):
    """The event log files of one application, in order: `path` itself,
    the `events_<n>_*` parts of a rolling (v2) log directory, or else the
    newest application log (file or v2 directory) under `path`."""
    if os.path.isfile(path):
        return [path]
    entries = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")]
    parts = [f for f in entries if os.path.basename(f).startswith("events_")]
    if parts:
        return sorted(parts, key=lambda f: int(os.path.basename(f).split("_")[1]))
    apps = [f for f in entries
            if os.path.isfile(f) or os.path.basename(f).startswith("eventlog_v2_")]
    if not apps:
        sys.exit(f"no event log under {path}")
    return log_files(max(apps, key=os.path.getmtime))


def short(event):
    return event.get("Event", "").rsplit(".", 1)[-1]


def parse(files):
    """(app start ms, executions by id, jobs by id)."""
    app_start = None
    execs = OrderedDict()
    jobs = OrderedDict()
    stage_tasks = {}  # (stage id, attempt) -> [tasks, cpu ns, run ms]
    events = (ev for f in files for ev in open_lines(f))
    for ev in events:
        kind = short(ev)
        if kind == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif kind == "SparkListenerSQLExecutionStart":
            execs[str(ev["executionId"])] = {
                "start": ev["time"], "end": None, "jobs": [],
                "desc": ev.get("description", "")}
        elif kind == "SparkListenerSQLExecutionEnd":
            e = execs.get(str(ev["executionId"]))
            if e is not None:
                e["end"] = ev["time"]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id", "-")
            job = {"id": ev["Job ID"], "exec": exec_id, "start": ev["Submission Time"],
                   "end": None, "stages": set(ev.get("Stage IDs", []))}
            jobs[ev["Job ID"]] = job
            if exec_id == "-":
                execs.setdefault("-", {"start": job["start"], "end": None, "jobs": [],
                                       "desc": "(outside any SQL execution)"})
            elif exec_id not in execs:
                execs[exec_id] = {"start": job["start"], "end": None, "jobs": [],
                                  "desc": ""}
            execs[exec_id]["jobs"].append(ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            m = ev.get("Task Metrics") or {}
            acc = stage_tasks.setdefault(key, [0, 0, 0])
            acc[0] += 1
            acc[1] += m.get("Executor CPU Time", 0)
            acc[2] += m.get("Executor Run Time", 0)
    for job in jobs.values():
        ran = [(sid, a) for (sid, a) in stage_tasks if sid in job["stages"]]
        job["ran"] = len(ran)
        job["tasks"] = sum(stage_tasks[k][0] for k in ran)
        job["cpu_ms"] = sum(stage_tasks[k][1] for k in ran) / 1e6
        job["run_ms"] = sum(stage_tasks[k][2] for k in ran)
    if app_start is None:
        starts = [e["start"] for e in execs.values()] + [j["start"] for j in jobs.values()]
        app_start = min(starts) if starts else 0
    return app_start, execs, jobs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path", help="event log file, or a directory of them (newest is read)")
    ap.add_argument("--jobs", action="store_true", help="one line per job, too")
    args = ap.parse_args()
    files = log_files(args.path)
    app_start, execs, jobs = parse(files)
    print(f"# {' '.join(files)}")
    print(f"{'exec':>6} {'start_ms':>10} {'dur_ms':>8} {'jobs':>4} {'stages':>6} "
          f"{'tasks':>5} {'cpu_ms':>9} {'run_ms':>8}  description")
    totals = [0, 0, 0, 0.0]
    for exec_id, e in execs.items():
        js = [jobs[j] for j in e["jobs"]]
        ends = [x for x in [e["end"]] + [j["end"] for j in js] if x is not None]
        dur = (max(ends) - e["start"]) if ends else float("nan")
        stages = sum(j["ran"] for j in js)
        tasks = sum(j["tasks"] for j in js)
        cpu = sum(j["cpu_ms"] for j in js)
        run = sum(j["run_ms"] for j in js)
        totals[0] += len(js); totals[1] += stages; totals[2] += tasks; totals[3] += cpu
        desc = " ".join((e["desc"] or "").split())[:90]
        print(f"{exec_id:>6} {e['start'] - app_start:>10} {dur:>8.0f} {len(js):>4} "
              f"{stages:>6} {tasks:>5} {cpu:>9.1f} {run:>8}  {desc}")
        if args.jobs:
            for j in js:
                jdur = (j["end"] - j["start"]) if j["end"] is not None else float("nan")
                print(f"{'':>6} {'job ' + str(j['id']):>10} {jdur:>8.0f} {'':>4} "
                      f"{j['ran']:>6} {j['tasks']:>5} {j['cpu_ms']:>9.1f} {j['run_ms']:>8}  "
                      f"start +{j['start'] - app_start} ms")
    print(f"# total: {totals[0]} jobs, {totals[1]} stages, {totals[2]} tasks, "
          f"{totals[3]:.1f} task CPU ms")


if __name__ == "__main__":
    main()
