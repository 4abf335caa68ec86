#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload pme_read --seeds 1-10 [--trace 0]

For every metric: the median of the runs and the distance between the
first and third quartiles (statistics.quantiles, n=4) as a share of that
median, next to the metric's bound from BENCHMARK.json. Appends each run's
result line to perfbench/.records/spread_<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, log = {}, os.path.join(BENCH, ".records", f"spread_{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for s in seeds(a.seeds):
        p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                               "--seconds", str(bench["run_seconds"]),
                                               "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        lines = p.stdout.decode().strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {s}: exit {p.returncode}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": s, **res}) + "\n")
        print(f"seed {s}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
        print(f"{k:28s} n={len(vs):2d} median={med:14.6g} spread={spread:7.4f} "
              f"bound={b}{flag}")


if __name__ == "__main__":
    main()
