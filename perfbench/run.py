#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the benchmark
(`perfbench/build.py`), starts one fresh JVM driving `local[nproc]` for one
workload, checks the outputs, and prints a report followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # write nothing outside .bench_build
sys.path.insert(0, HERE)
import build  # noqa: E402

SPEC = os.path.join(HERE, "..", "BENCHMARK.json")
WORKLOADS = ("mor_mixed", "corpus_ops")
RUN_LIMIT_S = 170

# ---- DuckDB oracle compare for corpus_ops (type-faithful, like the
# repo's selfcheck: Arrow dtypes must agree, then sorted rows) ----

def _norm_type(t):
    s = str(t)
    if s.startswith("timestamp"):
        return "timestamp"
    if s in ("large_string", "string_view"):
        return "string"
    if s.startswith("large_list"):
        return "list" + s[len("large_list"):]
    return s


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _canon(tbl):
    names = sorted(tbl.column_names)
    tbl = tbl.select(names)
    types = [_norm_type(tbl.schema.field(n).type) for n in names]
    rows = sorted(tuple(_cell(r[n]) for n in names) for r in tbl.to_pylist())
    return names, types, rows


def check_corpus(extra, work):
    """Compare each query result of the warm pass and of the pass after the
    timed region with its DuckDB oracle. Returns (checked, failures,
    slowest oracle)."""
    import glob
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        # DuckDB scans one row group per thread: split the corpus's single
        # row group so that the oracles use every core
        tbl = pq.read_table(os.path.join(extra["corpus_dir"], f"{t}.parquet"))
        path = os.path.join(work, f"oracle-{t}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, -(-len(tbl) // (4 * build.cpus()))))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    fails = []
    slowest = (0.0, "")
    dirs = extra["results_dirs"]
    for name, sql in extra["oracle_sql"].items():
        try:
            t0 = time.time()
            exp = _canon(con.sql(sql).arrow())
            slowest = max(slowest, (time.time() - t0, name))
        except Exception as e:  # a failing oracle is a failure of each result
            fails += [f"{name}: oracle {type(e).__name__}: {e}"[:200]] * len(dirs)
            continue
        for d in dirs:
            where = f"{name} ({os.path.basename(d)})"
            files = sorted(glob.glob(os.path.join(d, name, "*.parquet")))
            try:
                got = _canon(pa.concat_tables([pq.read_table(f) for f in files]))
            except Exception as e:  # a missing or unreadable result is a failure
                fails.append(f"{where}: {type(e).__name__}: {e}"[:200])
                continue
            if got != exp:
                what = ("columns" if got[0] != exp[0] else "types" if got[1] != exp[1]
                        else f"rows {len(got[2])} vs {len(exp[2])}"
                        if len(got[2]) != len(exp[2]) else "values")
                fails.append(f"{where}: {what} differ from the DuckDB oracle")
    return len(extra["oracle_sql"]) * len(dirs), fails, slowest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    archive = build.build()
    t_built = time.time()
    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.jvm(work, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)], archive)
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            budget = max(30, RUN_LIMIT_S - (time.time() - t_built))
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=budget).returncode
        res_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            sys.stderr.write(open(log_path).read()[-4000:])
            sys.stderr.write(f"perfbench: JVM exited {rc} without a result\n")
            return 1
        res = json.load(open(res_path))
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(build.BUILD, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(build.BUILD, "traces",
                                                f"{a.workload}-{a.seed}.jsonl"))
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if a.workload == "corpus_ops" and "oracle_sql" in res["extra"]:
            t_check = time.time()
            n, fails, slowest = check_corpus(res["extra"], work)
            res["report"].append(f"corpus oracle check: {n} results in "
                                 f"{time.time() - t_check:.1f} s, slowest {slowest[1]} "
                                 f"{slowest[0]:.1f} s")
            attempted += n
            failed += len(fails)
            failures += fails
    except subprocess.TimeoutExpired:
        sys.stderr.write(open(log_path).read()[-4000:])
        sys.stderr.write("perfbench: run exceeded its time limit\n")
        return 1

    print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} master=local[{build.cpus()}] heap={build.heap_gb()}g "
          f"mem_total={build.mem_total_gb():.1f}GB cds={'on' if archive else 'off'}")
    for line in res["report"]:
        print(line)
    for f in failures:
        print(f"FAILED: {f}")
    frac = failed / max(1, attempted)
    print(f"metric failed_frac {frac:.6f} ratio n={attempted}")
    # the metric names and units are the ones BENCHMARK.json declares
    with open(SPEC) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = res["layer"] if a.trace else res["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    if not a.trace:
        for k, m in metrics.items():
            print(f"metric {k} {m['value']:.6g} {m['unit']}")
    shutil.copy(log_path, os.path.join(build.BUILD, "last-jvm.log"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
