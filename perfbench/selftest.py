#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny scale.

    python3 perfbench/selftest.py

Run from the repository root. Checks that
  - every end-to-end metric of BENCHMARK.json is emitted by every workload
    with --trace 0, and every per-layer metric with --trace 1;
  - the current engine passes every output check (failed == 0);
  - a deliberately corrupted operation result (--corrupt) is counted as a
    failed operation and lowers ok_share (1 - failed_share);
  - recall is identical across two runs with the same seed.
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--scale", "0.05"]


def run(workload, trace, seed=7, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", str(trace)]
    out = subprocess.run(cmd + TINY + list(extra), cwd=ROOT, timeout=600,
                         stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    recalls = {}
    for w in [x["name"] for x in bench["workloads"]]:
        r = run(w, 0)
        expect(set(r["metrics"]) == e2e, f"{w}: end-to-end metrics emitted")
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
               f"{w}: every output check passes")
        recalls[w] = r["metrics"]["recall"]["value"]
        r = run(w, 1)
        expect(set(r["metrics"]) == layer, f"{w}: per-layer metrics emitted")
        expect(r["correct"], f"{w}: traced run passes its output checks")
    r = run("trace_lookup", 0, extra=["--corrupt"])
    expect(r["failed"] >= 1 and not r["correct"]
           and r["metrics"]["ok_share"]["value"] < 1.0,
           "trace_lookup: a corrupted result counts as a failed operation")
    for w in ("ledger_ingest",):
        again = run(w, 0)["metrics"]["recall"]["value"]
        expect(again == recalls[w], f"{w}: recall {again} repeats for one seed")


if __name__ == "__main__":
    main()
