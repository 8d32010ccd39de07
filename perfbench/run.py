#!/usr/bin/env python3
"""End-to-end benchmark of the ELT and CDC product paths.

Usage (from the repository root):
    python3 perfbench/run.py --workload elt_batch --seed 1 --seconds 15 --trace 0

Builds the harness together with the program's sources (sbt, on first use
or when a source changed), runs one workload in a fresh JVM, checks every
output against a DuckDB reference, prints each metric by name and unit,
and ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("elt_batch", "cdc_slot", "curate_corpus")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group.
    Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    """Compile harness and program once per source state; return the
    runtime classpath."""
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(target, exist_ok=True)
    log("building the harness and the program (sbt)")
    t0 = time.time()
    with open(os.path.join(target, "build.log"), "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false",
                        "compile", "writeClasspath"], BUILD_TIMEOUT_S,
                       cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        log(f"build failed (rc={rc}); see {os.path.join(target, 'build.log')}")
        sys.exit(2)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def run_harness(cp, args, work):
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    log_path = work + ".log"
    with open(log_path, "w") as lf:
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=BENCH, stdout=lf,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        log(f"harness failed (rc={rc}); see {log_path}")
        sys.exit(3)
    with open(out) as f:
        return json.load(f)


def end_to_end(rec):
    """The workload's end-to-end metrics plus the counts behind them."""
    w = rec["workload"]
    if w == "elt_batch":
        ops = rec["epochs"]
        load_rows, load_s = rec["snapshot_rows"], rec["snapshot_s"]
        rows = sum(o["rows"] for o in ops)
    elif w == "cdc_slot":
        ops = [s for s in rec["steps"] if s["step"] > 0]
        load_rows, load_s = rec["backlog_events"], rec["backlog_s"]
        rows = sum(o["events"] for o in ops)
    else:
        ops = rec["runs"]
        walls = [o["wall_s"] for o in ops]
        load_rows, load_s = rec["docs"], stats.median(walls)
        rows = rec["docs"] * len(ops)
    walls = [o["wall_s"] for o in ops]
    reads = [o["read_s"] for o in ops]
    if w == "elt_batch":
        reads.append(rec["snapshot_read_s"])
    return {
        "setup_s": rec["setup_s"],
        "op_p50_s": stats.median(walls),
        "op_rows_per_s": rows / sum(walls),
        "load_rows_per_s": load_rows / load_s,
        "read_p50_s": stats.median(reads),
        "peak_rss_mb": rec["peak_rss_mb"],
    }, walls, reads


# The names each workload's metrics go by in the benchmark's docs.
ALIASES = {
    "elt_batch": {"op_p50_s": "epoch_p50_s", "op_rows_per_s": "epoch_rows_per_s",
                  "load_rows_per_s": "snapshot_rows_per_s"},
    "cdc_slot": {"op_p50_s": "step_p50_s", "op_rows_per_s": "cdc_events_per_s",
                 "load_rows_per_s": "backlog_events_per_s"},
    "curate_corpus": {"op_p50_s": "curate_p50_s",
                      "op_rows_per_s": "curate_docs_per_s",
                      "load_rows_per_s": "curate_docs_per_s_p50"},
}


def report_latency(name, xs):
    tail = stats.percentile_with_tail(xs)
    extra = f", {tail[0]} {tail[1]:.4f} s" if tail else ""
    print(f"  {name}: median {stats.median(xs):.4f} s over n={len(xs)}{extra}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    work = os.path.join(BENCH, "work", args.workload)
    os.makedirs(os.path.dirname(work), exist_ok=True)
    rec = run_harness(cp, args, work)

    t0 = time.time()
    check_failed, problems = check.CHECKS[args.workload](rec)
    for p in problems:
        log("CHECK FAILED: " + p)
    failed_ops = (rec.get("failed_streams", 0) + rec.get("failed_ops", 0)
                  + check_failed)
    attempted = int(rec["attempted"])
    failed = min(attempted, int(failed_ops))
    correct = not problems and failed == 0

    e2e, walls, reads = end_to_end(rec)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={rec['cores']} gen_s={rec['gen_s']:.3f} "
          f"setup_samples_s={[round(x, 3) for x in rec['setup_samples_s']]} "
          f"check_s={time.time() - t0:.2f}")
    report_latency(ALIASES[args.workload]["op_p50_s"], walls)
    report_latency("read_p50_s", reads)
    print(f"  ops_failed_ratio: {failed / attempted:.4f} ratio "
          f"({failed} of {attempted} operations)")
    if args.trace:
        layers = rec.get("layers", {})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for name, m in metrics.items():
        alias = ALIASES[args.workload].get(name)
        shown = f"{name} ({alias})" if alias else name
        print(f"  {shown}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
