#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pme_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark JVM with sbt (offline) and caches the build until a source file
changes. Each run then generates the corpus (fixed data seed) and the
seeded operations, starts one benchmark JVM that sets up, warms and runs
the operations closed-loop for `--seconds`, checks every result against
DuckDB, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
A fuller record of the run (host state, JVM options, every operation) is
written to perfbench/.records/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import workloads as W  # noqa: E402
import check  # noqa: E402

ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")        # scratch root, wiped at start and end
CACHE = os.path.join(BENCH, ".cache")      # build stamp and generated corpus
RECORDS = os.path.join(BENCH, ".records")  # one record per run
LAUNCH = os.path.join(BENCH, "target", "launch")
HEAP = "2g"  # fixed benchmark JVM heap (-Xms = -Xmx, pre-touched)
DEADLINE_S = 170.0
SF = {"pme_read": 0.1, "pme_write": 0.1, "registry": 0.01}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ host

def host_state():
    def read(p):
        try:
            with open(p) as f:
                return f.read().strip()
        except OSError:
            return ""
    mem = [ln for ln in read("/proc/meminfo").splitlines() if ln.startswith("MemAvailable")]
    return {"loadavg": read("/proc/loadavg"),
            "psi_cpu": read("/proc/pressure/cpu").splitlines()[:1],
            "psi_io": read("/proc/pressure/io").splitlines()[:1],
            "mem_available": mem[0] if mem else ""}


def other_repo_jvms():
    """Other JVMs running this repository's code (engine mains, sbt, the
    benchmark). Their timing noise aside, the engine's Bench and Verify
    mains empty the shared block-manager root of every live sibling."""
    found = []
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if not argv or not argv[0].endswith(b"java"):
            continue
        line = b" ".join(argv)
        if any(m in line for m in (b"graft.", b"perfbench.Main", b"sbt-launch", b"xsbt.boot",
                                   b"graft-spark-local")):
            found.append(int(pid))
    return found


# ----------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("no engine sources next to the benchmark (expected ../build.sbt and ../src/main)")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(CACHE, "build.stamp")
    ready = all(os.path.isfile(os.path.join(LAUNCH, f))
                for f in ("classpath.txt", "jvm-options.txt"))
    if ready and os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark (sbt, offline)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launchSpec"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail(f"build failed (exit {p.returncode})")
    os.makedirs(CACHE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def jvm_command():
    """The engine build's forked-run JVM options, as the build reports them,
    with the heap fixed and the local dir moved into the scratch root."""
    with open(os.path.join(LAUNCH, "jvm-options.txt")) as f:
        build_opts = [ln.strip() for ln in f if ln.strip()]
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = [ln.strip() for ln in f if ln.strip()]
    replaced = [o for o in build_opts
                if o.startswith(("-Xmx", "-Xms", "-Dspark.local.dir=", "-Djava.io.tmpdir="))]
    kept = [o for o in build_opts if o not in replaced]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    ours = [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-XX:-UsePerfData"]
    cmd = ["java"] + kept + ours + ["-cp", ":".join(cp), "perfbench.Main"]
    return cmd, {"build_options": build_opts, "replaced": replaced, "added": ours}


# ------------------------------------------------------------ operations

def make_ops(workload, seed, data_dir):
    if workload == "pme_read":
        ops = W.pme_read_ops(seed, check.table_rows(data_dir)["part"])
    elif workload == "pme_write":
        ops = W.pme_write_ops(seed)
    else:
        ops = W.registry_ops(seed)
    return {"ops": W.number(ops)}


# --------------------------------------------------------------- metrics

def quantile(values, p):
    """The Harrell-Davis estimate of the p-quantile: a mean of all order
    statistics, weighted by the Beta((n+1)p, (n+1)(1-p)) mass of each
    one's share of [0, 1]. An operation mix is a mixture of kinds whose
    latencies cluster, and a single order statistic near the border of two
    clusters jumps between them from run to run; this estimate moves
    smoothly across the border."""
    v = sorted(values)
    n = len(v)
    if n == 1:
        return v[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)
    steps = 16  # midpoint rule on each order statistic's interval
    w = [sum(pdf((i + (j + 0.5) / steps) / n) for j in range(steps)) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, v)) / sum(w)


def tail(values):
    """The highest percentile up to p90 with at least ten samples beyond it
    (p90 from 100 samples on), never below the median; the maximum when
    there are fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return max(values), 1.0
    pct = (max(n // 2, min(math.ceil(0.9 * n) - 1, n - 11)) + 1) / n
    return quantile(values, pct), pct


def suite(ops):
    """One round's time: the sum over the round's operation slots of each
    slot's median wall in the run. Every round holds each slot once, and
    the first round always runs whole, so every slot has a sample; a
    stall in one operation moves its slot's median, not the whole round."""
    by_slot = {}
    for o in ops:
        by_slot.setdefault(o["slot"], []).append(o["wall_s"])
    return sum(statistics.median(w) for w in by_slot.values())


def end_to_end(workload, out, ops, input_rows):
    walls = [o["wall_s"] for o in ops]
    timed_wall = out["timed_wall_s"]
    p90, pct = tail(walls)
    m = {
        "setup_s": (statistics.median(out["setup_s"]), "s"),
        "op_p50_s": (quantile(walls, 0.5), "s"),
        "op_p90_s": (p90, "s"),
        "ops_per_s": (len(ops) / timed_wall, "1/s"),
        "suite_s": (suite(ops), "s"),
        "heap_retained_mb": (out["heap_retained_mb"], "MB"),
    }
    if workload == "pme_write":  # not a listed workload: its own extra metric
        m["rows_per_s"] = (sum(input_rows) / timed_wall, "rows/s")
    return m, {"samples": len(walls), "tail_percentile": pct, "timed_wall_s": timed_wall}


def per_layer(out, ops, extra):
    n = max(1, len(ops))
    L = [o.get("layers", {}) for o in ops]

    def tot(k):
        return sum(x.get(k, 0.0) for x in L)

    def mean(k):
        return tot(k) / n
    walls = [o["wall_s"] for o in ops]
    cores = out["cores"]
    result_rows = sum(o.get("rows_n", 0) for o in ops)
    twin_r = [(x["enc_wall_s"], x["twin_wall_s"]) for x in L if "twin_wall_s" in x]
    m = {
        "kms.wrap_calls": (tot("kms_wrap"), "count"),
        "kms.unwrap_calls": (tot("kms_unwrap"), "count"),
        "kms.unwrap_denied": (tot("kms_unwrap_denied"), "count"),
        "kms.unwrap_granted": (tot("kms_unwrap_granted"), "count"),
        "kms.wrap_per_op": (mean("kms_wrap"), "count"),
        "kms.unwrap_per_op": (mean("kms_unwrap"), "count"),
        "io.read_s": (mean("io_read_s"), "s"),
        "io.write_s": (mean("io_write_s"), "s"),
        "io.files_written": (extra.get("files_per_op", 0.0), "count"),
        "io.bytes_written": (extra.get("bytes_per_op", 0.0), "bytes"),
        "io.bytes_stored_ratio": (extra.get("bytes_stored_ratio", 0.0), "ratio"),
        "crypto.read_overhead": (
            sum(a for a, _ in twin_r) / sum(b for _, b in twin_r) if twin_r else 0.0, "ratio"),
        "crypto.write_overhead": (extra.get("write_overhead", 0.0), "ratio"),
        "ops.build_s": (mean("build_s"), "s"),
        "ops.exec_s": (mean("action_s"), "s"),
        "plan.analysis_s": (mean("plan_analysis_s"), "s"),
        "plan.optimization_s": (mean("plan_optimization_s"), "s"),
        "plan.planning_s": (mean("plan_planning_s"), "s"),
        "plan.executions": (mean("plan_executions"), "count"),
        "codegen.compile_s": (mean("codegen_compile_s"), "s"),
        "codegen.classes": (mean("codegen_classes"), "count"),
        "codegen.max_method_bytes": (
            out.get("run_facts", {}).get("codegen_max_method_bytes", 0.0), "bytes"),
        "codegen.failures": (tot("codegen_failures"), "count"),
        "sched.jobs": (mean("jobs"), "count"),
        "sched.stages": (mean("stages"), "count"),
        "sched.tasks": (mean("tasks"), "count"),
        "sched.delay_s": (mean("sched_delay_s"), "s"),
        "task.deser_s": (mean("task_deser_s"), "s"),
        "scan.bytes": (mean("scan_bytes"), "bytes"),
        "scan.rows": (mean("scan_rows"), "count"),
        "scan.rows_per_result_row": (tot("scan_rows") / result_rows if result_rows else 0.0,
                                     "ratio"),
        "shuffle.write_bytes": (mean("shuffle_write_bytes"), "bytes"),
        "shuffle.write_s": (mean("shuffle_write_s"), "s"),
        "shuffle.fetch_wait_s": (mean("shuffle_fetch_wait_s"), "s"),
        "shuffle.spill_bytes": (mean("shuffle_spill_bytes"), "bytes"),
        "task.run_s": (mean("task_run_s"), "s"),
        "task.cpu_s": (mean("task_cpu_s"), "s"),
        "task.gc_s": (mean("task_gc_s"), "s"),
        "task.util": (tot("task_run_s") / (sum(walls) * cores) if walls else 0.0, "ratio"),
        "driver.idle_s": (sum(max(0.0, o["wall_s"] - o.get("layers", {}).get("job_covered_s", 0.0))
                              for o in ops) / n, "s"),
        "traced.op_p50_s": (quantile(walls, 0.5), "s"),
        "traced.suite_s": (suite(ops), "s"),
    }
    return m


# ------------------------------------------------------------------ main

def wipe(path):
    shutil.rmtree(path, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="corpus scale factor (default per workload)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one expected answer (the smoke test's check of the check)")
    a = ap.parse_args()
    t_start = time.time()

    others = other_repo_jvms()
    if others:
        fail(f"refusing to start: other JVMs of this repository are running (pids {others})", 3)
    host_start = host_state()
    build()
    t_built = time.time()  # the run's own deadline starts after a (first-run) build
    wipe(WORK)
    try:
        os.makedirs(os.path.join(WORK, "tmp"))
        sf = a.sf if a.sf is not None else SF[a.workload]
        clustered = a.workload != "registry"
        data_dir = datagen.write(sf, os.path.join(
            CACHE, f"data-v{datagen.VERSION}", f"sf{sf}" + ("-clustered" if clustered else "")),
            clustered)
        doc = make_ops(a.workload, a.seed, data_dir)
        ops_path = os.path.join(WORK, "ops.json")
        with open(ops_path, "w") as f:
            json.dump(doc, f)
        out_path = os.path.join(WORK, "out.json")
        ops_out = os.path.join(WORK, "ops_out.jsonl")
        tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
        os.makedirs(RECORDS, exist_ok=True)
        spans_path = os.path.join(RECORDS, f"{tag}.spans.jsonl")
        cmd, jvm_info = jvm_command()
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--ops", ops_path, "--data", data_dir,
                "--scratch", os.path.join(WORK, "scratch"), "--out", out_path,
                "--ops-out", ops_out,
                "--spans", spans_path]
        jvm_log = os.path.join(RECORDS, f"{tag}.jvm.log")
        budget = DEADLINE_S - (time.time() - t_built)
        with open(jvm_log, "wb") as lf:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10.0, budget - 15.0))
            except subprocess.TimeoutExpired:
                rc = None
            finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.isfile(out_path):
            with open(jvm_log, "rb") as lf:
                sys.stderr.write(lf.read().decode(errors="replace")[-6000:])
            fail("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))
        with open(out_path) as f:
            out = json.load(f)
        with open(ops_out) as f:
            out["ops"] = [json.loads(line) for line in f]
        generated = {o["id"]: o for o in doc["ops"]}
        for op in out["ops"]:
            op.update({k: v for k, v in generated[op["id"]].items() if k not in op})
        fixtures = check.fixture_bytes(out["fixture_dir"])
        verdict = check.verify(a.workload, out, data_dir, corrupt=a.corrupt)
    finally:
        wipe(WORK)

    ops = out["ops"]
    if not ops:
        fail("no timed operation completed")
    e2e, sample_info = end_to_end(a.workload, out, ops, verdict["input_rows"])
    extra = dict(verdict["extra"])
    if a.workload == "pme_read" and fixtures:
        extra["bytes_stored_ratio"] = fixtures
    metrics = per_layer(out, ops, extra) if a.trace else e2e
    attempted, failed = len(ops), len(verdict["failures"])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "sf": sf, "nproc": os.cpu_count(), "cores": out["cores"], "heap": HEAP,
        "jvm": jvm_info, "jvm_args": out["jvm_args"],
        "host": {"start": host_start, "timed_start": out["host_start"],
                 "timed_end": out["host_end"], "end": host_state()},
        "setup_s_reps": out["setup_s"], "samples": sample_info,
        "fail_frac": failed / attempted, "failures": verdict["failures"][:50],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        if a.trace else {},
        "extra": extra, "run_facts": out.get("run_facts", {}),
        "ops": [{k: o.get(k) for k in ("id", "round", "kind", "spec", "wall_s", "status",
                                       "rows_n", "layers")} for o in ops],
        "wall_s": time.time() - t_start,
    }
    with open(os.path.join(RECORDS, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"{a.workload} seed={a.seed}: {attempted} ops, {failed} failed "
        f"(fail_frac {failed / attempted:.4f}), {sample_info}, nproc {os.cpu_count()}, "
        f"heap {HEAP}, wall {record['wall_s']:.1f} s")
    for fl in verdict["failures"][:5]:
        log(f"failure: {fl}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
