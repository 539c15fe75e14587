#!/usr/bin/env python3
"""Tiny-scale smoke test of the benchmark harness.

Run from the repository root:

    python3 cdcbench/smoke_test.py

For each workload it runs the benchmark untraced and traced at a tiny size
and checks that the run is correct and prints exactly the metrics
BENCHMARK.json names for its mode. A last run tampers with the replay
oracle's result and checks that the correctness check reports it. Takes a
few minutes; exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--tiny"]


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace)] + TINY + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().split("\n")[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            want = {m["name"] for m in spec[key]}
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            assert r["correct"] and r["failed"] == 0, f"{w} trace={trace}: {r}"
            assert r["attempted"] >= 1
            assert set(r["metrics"]) == want, set(r["metrics"]) ^ want
            for name, m in r["metrics"].items():
                assert isinstance(m["value"], (int, float)), (name, m)
            if trace == 0:
                assert all(m["value"] > 0 for m in r["metrics"].values()), r["metrics"]
            print(f"ok   {w} trace={trace}: {r['attempted']} operations", flush=True)
    r = run(spec["workloads"][0]["name"], 0, ["--tamper"])
    assert not r["correct"] and r["failed"] >= 1, r
    print("ok   a tampered oracle is reported", flush=True)


if __name__ == "__main__":
    main()
