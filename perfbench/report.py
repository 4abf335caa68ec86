#!/usr/bin/env python3
"""Per-layer tables from a traced run and its untraced twin.

    python3 perfbench/run.py --workload W --seed S --seconds 15 --trace 0
    python3 perfbench/run.py --workload W --seed S --seconds 15 --trace 1
    python3 perfbench/report.py --seed S > perfbench/results/first_trace.md

Reads perfbench/.records/<workload>_seed<S>_trace{0,1}.json for every
workload that has both and prints markdown: the tracing overhead, then one
layer table per workload.
"""
import argparse
import json
import os
import statistics

BENCH = os.path.dirname(os.path.abspath(__file__))
RECORDS = os.path.join(BENCH, ".records")

# Per-operation layer columns: (title, layers key, unit). Times marked
# "core-s" are summed over tasks running in parallel, so they can exceed
# the wall time.
COLS = [
    ("wall", "wall_s", "s"),
    ("ops.build", "build_s", "s"),
    ("plan", "plan_s", "s"),
    ("codegen.compile", "codegen_compile_s", "s"),
    ("jobs running", "job_covered_s", "s"),
    ("driver.idle", "idle_s", "s"),
    ("task.run", "task_run_s", "core-s"),
    ("task.deser", "task_deser_s", "core-s"),
    ("sched.delay", "sched_delay_s", "core-s"),
    ("shuffle.fetch_wait", "shuffle_fetch_wait_s", "core-s"),
    ("jobs", "jobs", "count"),
    ("tasks", "tasks", "count"),
]


def load(workload, seed, trace):
    p = os.path.join(RECORDS, f"{workload}_seed{seed}_trace{trace}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def op_row(o):
    L = dict(o.get("layers") or {})
    L["wall_s"] = o["wall_s"]
    L["plan_s"] = sum(L.get(k, 0.0) for k in
                      ("plan_analysis_s", "plan_optimization_s", "plan_planning_s"))
    L["idle_s"] = max(0.0, o["wall_s"] - L.get("job_covered_s", 0.0))
    return L


def by_kind(rec):
    """Median over the repeats of each operation kind, per layer."""
    groups = {}
    for o in rec["ops"]:
        groups.setdefault(o["kind"], []).append(op_row(o))
    return {k: {c: statistics.median(r.get(c, 0.0) for r in rows) for _, c, _ in COLS}
            | {"n": len(rows), "_raw": rows} for k, rows in groups.items()}


def table(title, kinds, names):
    out = [f"**{title}**", "",
           "| operation | n | " + " | ".join(f"{t} ({u})" for t, _, u in COLS) + " |",
           "|---|---|" + "---|" * len(COLS)]
    for k in names:
        r = kinds[k]
        out.append(f"| {k} | {r['n']} | " +
                   " | ".join(f"{r[c]:.3f}" if u != "count" else f"{r[c]:.0f}"
                              for _, c, u in COLS) + " |")
    return out


def summary(title, kinds, names):
    """Median and sum per layer over the listed kinds (each a median)."""
    out = [f"**{title}** ({len(names)} operations; each value is first the "
           "median over the operations, then their sum)", "",
           "| layer | unit | median | sum |", "|---|---|---|---|"]
    for t, c, u in COLS:
        vals = [kinds[k][c] for k in names]
        out.append(f"| {t} | {u} | {statistics.median(vals):.3f} | {sum(vals):.3f} |")
    return out


def overhead(untraced, traced):
    a = untraced["end_to_end"]["op_p50_s"]["value"]
    b = traced["per_layer"]["traced.op_p50_s"]["value"]
    return a, b, (b - a) / a


def spread_median(workload):
    """Median op_p50_s over the untraced runs spread.py recorded, if any."""
    p = os.path.join(RECORDS, f"spread_{workload}.jsonl")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        vals = [json.loads(line)["metrics"]["op_p50_s"]["value"] for line in f]
    return (statistics.median(vals), len(vals)) if vals else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    lines = [f"# First traced run (seed {a.seed})", ""]
    for w in ("registry", "pme_read", "pme_write"):
        t0, t1 = load(w, a.seed, 0), load(w, a.seed, 1)
        if not (t0 and t1):
            continue
        u, t, frac = overhead(t0, t1)
        pl = {k: v["value"] for k, v in t1["per_layer"].items()}
        lines += [f"## {w}", "",
                  f"Host: nproc {t1['nproc']}, heap {t1['heap']}, "
                  f"loadavg at start `{t1['host']['timed_start']['loadavg']}`. "
                  f"{len(t1['ops'])} timed operations traced, {len(t0['ops'])} untraced.", "",
                  f"Tracing overhead: op_p50_s {u:.4f} s untraced, {t:.4f} s traced "
                  f"({frac:+.1%})."]
        sm = spread_median(w)
        if sm:
            lines += [f"Against the median of {sm[1]} untraced seeds ({sm[0]:.4f} s): "
                      f"{(t - sm[0]) / sm[0]:+.1%}."]
        lines += [""]
        kinds = by_kind(t1)
        if w == "registry":
            floor = sorted(k for k, r in kinds.items() if r["wall_s"] < 1.0)
            heavy = sorted(kinds, key=lambda k: -kinds[k]["wall_s"])[:5]
            lines += summary("Sub-second queries: wall time by layer", kinds, floor) + [""]
            lines += table("Five heaviest queries (medians over passes)", kinds, heavy) + [""]
            lines += table("Every query (medians over passes)", kinds, sorted(kinds)) + [""]
        elif w == "pme_read":
            ratio = pl["crypto.read_overhead"]
            lines += [f"Crypto share of read wall time: {1 - 1 / ratio:.1%} "
                      f"(crypto.read_overhead {ratio:.3f}: warm encrypted-copy wall over "
                      "warm plaintext-twin wall for the same operations, run in alternating "
                      "order, denials excluded).",
                      f"KMS calls per operation: {pl['kms.unwrap_per_op']:.3f} unwraps, "
                      f"{pl['kms.wrap_per_op']:.3f} wraps. In the run: "
                      f"{pl['kms.unwrap_calls']:.0f} unwrap requests, "
                      f"{pl['kms.unwrap_denied']:.0f} of them denied (HTTP 403), "
                      f"{pl['kms.unwrap_granted']:.0f} granted by the KMS's own count; "
                      "the KEK cache serves every allowed read.",
                      f"Scan rows per result row: {pl['scan.rows_per_result_row']:.1f}.", ""]
            lines += kind_crypto(t1) + [""]
            lines += table("By operation kind (medians)", kinds, sorted(kinds)) + [""]
        else:
            lines += [f"crypto.write_overhead {pl['crypto.write_overhead']:.3f} "
                      "(encrypted write wall over plaintext-twin write wall), "
                      f"io.bytes_stored_ratio {pl['io.bytes_stored_ratio']:.4f}, "
                      f"{pl['io.files_written']:.1f} files and "
                      f"{pl['io.bytes_written'] / 1e3:.1f} kB per write, "
                      f"KMS wraps per write {pl['kms.wrap_per_op']:.2f}.", ""]
            lines += table("By table (medians)", kinds, sorted(kinds)) + [""]
        lines += ["Per-layer metrics of the traced run:", "", "| metric | value |", "|---|---|"]
        lines += [f"| {k} | {v:.6g} |" for k, v in pl.items()] + [""]
    print("\n".join(lines))


def kind_crypto(rec):
    """Crypto ratio and KMS traffic per operation kind; denied reads apart."""
    groups = {}
    for o in rec["ops"]:
        key = o["kind"] + (" (denied)" if o["status"] == "denied" else "")
        groups.setdefault(key, []).append(o.get("layers") or {})
    out = ["| kind | n | timed wall (s) | warm encrypted wall (s) | warm twin wall (s) | "
           "ratio | KMS unwrap requests/op | denied/op |", "|---|---|---|---|---|---|---|---|"]
    for k in sorted(groups):
        rows = groups[k]
        walls = [o["wall_s"] for o in rec["ops"]
                 if o["kind"] + (" (denied)" if o["status"] == "denied" else "") == k]
        kms = statistics.mean(r.get("kms_unwrap", 0.0) for r in rows)
        den = statistics.mean(r.get("kms_unwrap_denied", 0.0) for r in rows)
        twin = [r for r in rows if "twin_wall_s" in r]
        if twin:
            e = statistics.median(r["enc_wall_s"] for r in twin)
            p = statistics.median(r["twin_wall_s"] for r in twin)
            mid = f"{e:.3f} | {p:.3f} | {e / p:.2f}"
        else:
            mid = "– | – | –"
        out.append(f"| {k} | {len(rows)} | {statistics.median(walls):.3f} | {mid} | "
                   f"{kms:.2f} | {den:.2f} |")
    return out


if __name__ == "__main__":
    main()
