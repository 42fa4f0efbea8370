"""Self-tests of the benchmark: the harness's tail rule and span self time
(perfbench.SelfTest), then a tiny-scale smoke of every workload, untraced
and traced, which must pass every correctness check and report every
metric BENCHMARK.json lists. Run with `python3 perfbench/run.py --selftest`.
"""
import argparse
import subprocess

import build

WORKLOADS = ["ingest_small", "consume_selective", "stream_pipeline", "query_reads"]


def main(checkout, built, run_once):
    import run
    failures = 0
    r = subprocess.run(build.java_command(*built) + ["perfbench.SelfTest"],
                       capture_output=True, text=True, cwd=checkout)
    print(r.stdout, end="")
    if r.returncode != 0:
        print(r.stderr[-3000:])
        failures += 1
    e2e, layers = run.load_spec(checkout)
    for workload in WORKLOADS:
        for trace in (0, 1):
            args = argparse.Namespace(workload=workload, seed=7, seconds=1, trace=trace)
            result = run_once(checkout, built, args, extra=("--scale", "smoke"))
            wanted = layers if trace else e2e
            if result is None:
                ok, detail = False, "no result"
            else:
                bad = [c[0] for c in result["checks"] if not c[1]]
                missing = [n for n, _ in wanted if n not in result["metrics"]]
                ok = result["exit"] == 0 and not bad and not missing and result["failed"] == 0
                detail = f"failed checks {bad}, missing metrics {missing}, exit {result['exit']}"
            print(f"{'PASS' if ok else 'FAIL'} smoke {workload} trace={trace}" + ("" if ok else f": {detail}"))
            failures += 0 if ok else 1
    print("selftest: all passed" if failures == 0 else f"selftest: {failures} failed")
    return 0 if failures == 0 else 1
