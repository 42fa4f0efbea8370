#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds graft and the harness from source
(perfbench/build.py), runs one workload in one JVM at local[nproc], checks
its outputs (query results against DuckDB running the registry's oracle
SQL), prints a report with every metric by name and unit, and prints as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
list, with --trace 1 its per_layer list; a traced run also writes its spans
to .bench_out/. Exits non-zero, without a result line, when the build fails
or the run breaks; prints the result and exits 1 when a check fails.
Scratch files live in .bench_tmp/ and are deleted at exit.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["ingest_small", "consume_selective", "stream_pipeline", "query_reads"]
JVM_TIMEOUT_S = 165


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def run_jvm(built, args, tmp, timeout_s):
    """Runs perfbench.Main; returns (exit code, result dict or None)."""
    out = tmp / "result.json"
    jtmp = tmp / "jtmp"
    jtmp.mkdir(parents=True, exist_ok=True)
    cmd = build.java_command(*built) + [f"-Djava.io.tmpdir={jtmp}", "perfbench.Main"] + \
        args + ["--tmp", str(tmp), "--out", str(out)]
    with open(tmp / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"JVM timed out after {timeout_s}s")
            code = -9
    if code != 0 or not out.is_file():
        tail = (tmp / "jvm.log").read_text(errors="replace")[-6000:]
        sys.stderr.write(tail)
    return code, (json.loads(out.read_text()) if out.is_file() else None)


# -- DuckDB oracle check of the query_reads results --------------------------

def rows_equal(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
            continue
        if x != y:
            return False
    return True


def oracle_checks(tmp):
    """Each query's Spark result against DuckDB running its oracle SQL on the
    same generated tables: same columns and types, same rows in order."""
    import duckdb
    tables, results = tmp / "tables", tmp / "results"
    oracle = json.loads((tmp / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(p.name[:-len(".parquet")] for p in tables.iterdir()):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    checks = []
    for name, sql in sorted(oracle.items()):
        try:
            d = con.sql(sql)
            parts = sorted(str(f) for f in (results / name).glob("*.parquet"))
            s = con.sql(f"SELECT * FROM read_parquet({parts!r})")
            dcols, scols = list(d.columns), list(s.columns)
            dt = dict(zip(dcols, map(str, d.types)))
            st = dict(zip(scols, map(str, s.types)))
            drows, srows = d.fetchall(), s.fetchall()
        except Exception as e:  # a query error is a failed check
            checks.append((f"oracle: {name}", False, f"query error: {e}"[:300]))
            continue
        if sorted(dcols) != sorted(scols):
            checks.append((f"oracle: {name}", False, f"columns {sorted(dcols)} vs {sorted(scols)}"))
            continue
        cols = sorted(dcols)
        if any(dt[c] != st[c] for c in cols):
            checks.append((f"oracle: {name}", False,
                           f"types {[(c, dt[c], st[c]) for c in cols if dt[c] != st[c]]}"))
            continue
        dp = [dcols.index(c) for c in cols]
        sp = [scols.index(c) for c in cols]
        dr = [tuple(r[i] for i in dp) for r in drows]
        sr = [tuple(r[i] for i in sp) for r in srows]
        bad = next((i for i, (x, y) in enumerate(zip(dr, sr)) if not rows_equal(x, y)), None)
        ok = len(dr) == len(sr) and bad is None and len(sr) > 0
        detail = "" if ok else (f"rows duckdb={len(dr)} spark={len(sr)}" if bad is None
                                else f"row {bad}: duckdb={dr[bad]} spark={sr[bad]}")
        checks.append((f"oracle: {name} ({len(sr)} rows)", ok, detail[:300]))
    return checks


# -- one run ----------------------------------------------------------------

def load_spec(checkout):
    spec = json.loads((checkout / "BENCHMARK.json").read_text())
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def run_once(checkout, built, args, extra=()):
    tmp = checkout / ".bench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace), *extra]
        t0 = time.time()
        code, result = run_jvm(built, jvm_args, tmp, JVM_TIMEOUT_S)
        if result is None:
            return None
        result["notes"].append(f"JVM wall {time.time() - t0:.2f} s")
        checks = [(c["name"], c["ok"], c["detail"]) for c in result["checks"]]
        if code == 0 and args.workload == "query_reads":
            checks += oracle_checks(tmp)
        spans = tmp / "spans.jsonl"
        if spans.is_file():
            dest = checkout / ".bench_out" / f"spans-{args.workload}-{args.seed}.jsonl"
            dest.parent.mkdir(exist_ok=True)
            shutil.copyfile(spans, dest)
            result["notes"].append(f"spans written to {dest.relative_to(checkout)}")
        result["checks"] = checks
        result["exit"] = code
        return result
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness self-tests and a tiny-scale smoke of every workload")
    args = ap.parse_args()
    checkout = Path.cwd()
    started = time.time()
    try:
        built = build.build(checkout, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    log(f"build ready in {time.time() - started:.1f}s")
    if args.selftest:
        import selftest
        return selftest.main(checkout, built, run_once)
    if not args.workload:
        ap.error("--workload is required")
    e2e, layers = load_spec(checkout)

    result = run_once(checkout, built, args)
    if result is None:
        log("run failed: no result")
        return 3
    wanted = layers if args.trace else e2e
    metrics = result["metrics"]
    missing = [n for n, _ in wanted if n not in metrics]
    if missing:
        log(f"run did not report metrics {missing}")
        return 4

    print(f"== graft benchmark: {args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    for line in result["notes"]:
        print(f"   {line}")
    ok = result["exit"] == 0 and all(c[1] for c in result["checks"])
    for name, passed, detail in result["checks"]:
        print(f"   check {'PASS' if passed else 'FAIL'}: {name}" + (f" — {detail}" if detail else ""))
    print(f"   attempted={result['attempted']} failed={result['failed']} correct={ok}")
    out = {"correct": ok and result["failed"] == 0,
           "attempted": max(1, int(result["attempted"])),
           "failed": int(result["failed"]),
           "metrics": {n: {"value": metrics[n]["value"], "unit": u} for n, u in wanted}}
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
