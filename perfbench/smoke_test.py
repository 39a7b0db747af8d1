#!/usr/bin/env python3
"""Smoke check of the benchmark.

Runs one operation of every workload on tiny inputs, untraced and traced,
and asserts that each metric BENCHMARK.json names is printed with its unit
and that every output check passed. Run from the root of a checkout:

    python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "0",
         "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900)
    assert out.returncode == 0, "%s trace=%d exited %d" % (workload, trace, out.returncode)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # medallion runs inside traced curate runs; it is also runnable alone
    workloads = [w["name"] for w in spec["workloads"]] + ["medallion"]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, "%s trace=%d: metrics differ: %s" % (
                w, trace, sorted(set(got.items()) ^ set(want.items())))
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (w, k, v)
            print("ok %s trace=%d (%d metrics)" % (w, trace, len(got)))


if __name__ == "__main__":
    main()
