#!/usr/bin/env python3
"""The benchmark's own smoke test, on the tiny sf0.001 corpus.

    python3 perfbench/smoke_test.py

One traced pme_read run with one expected answer deliberately corrupted.
It checks that every per-layer metric BENCHMARK.json names is printed with
its unit, that every end-to-end metric is computed with its unit (the run
record holds them; an untraced run prints the same dictionary), and that
the corrupted answer, and only it, is caught: exactly one failure proves
both that the check bites and that every other operation, denials
included, was right. Needs a built benchmark (run.py builds on first use).
Takes 30-60 s on four cores, with the host's speed.
"""
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    assert p.returncode == 0, p.stderr.decode()[-3000:]
    return json.loads(p.stdout.decode().strip().splitlines()[-1])


def assert_metrics(res, declared):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    got = res["metrics"]
    for m in declared:
        assert m["name"] in got, f"missing metric {m['name']}"
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), m
    assert set(got) == {m["name"] for m in declared}, set(got) ^ {m["name"] for m in declared}


def main():
    t0 = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    res = run("pme_read", 1, "--corrupt")
    assert_metrics(res, bench["per_layer"])
    with open(os.path.join(BENCH, ".records", "pme_read_seed7_trace1.json")) as f:
        record = json.load(f)
    assert_metrics(dict(res, metrics=record["end_to_end"]), bench["end_to_end"])
    assert res["attempted"] > 0 and res["failed"] == 1 and not res["correct"], res
    print(f"smoke test passed in {time.time() - t0:.1f} s")


if __name__ == "__main__":
    main()
