#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed and report, per
end-to-end metric, the median and the interquartile spread as a share of
the median, against the metric's bound in BENCHMARK.json.

Usage (from the repository root):
    python3 perfbench/steady.py --seeds 101-110 --out /tmp/set1.json
    python3 perfbench/steady.py --compare /tmp/set1.json /tmp/set2.json

A metric is steady when its spread is within a third of its bound; two
sets agree when, for every metric, the second median is not worse than
the first by more than the bound.
"""
import argparse
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def collect(args):
    s = spec()
    workloads = args.workloads or [w["name"] for w in s["workloads"]]
    out = {"run_seconds": s["run_seconds"], "workloads": {}}
    for w in workloads:
        runs = []
        for seed in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(s["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            r = stats.parse_result(p.stdout)
            if p.returncode != 0 or not r["correct"] or r["failed"]:
                sys.exit(f"{w} seed {seed}: rc={p.returncode} {p.stdout[-400:]}")
            runs.append({"seed": seed, "wall_s": wall,
                         "metrics": {k: m["value"] for k, m in r["metrics"].items()}})
            print(f"{w} seed={seed} wall={wall:.1f}s " + " ".join(
                f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()), flush=True)
        out["workloads"][w] = {"runs": runs, "summary": summarise(s, runs)}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)


def summarise(s, runs):
    rows = {}
    for m in s["end_to_end"]:
        vals = [r["metrics"][m["name"]] for r in runs]
        sp = stats.spread(vals)
        rows[m["name"]] = {"median": stats.median(vals), "spread": sp,
                           "bound": m["bound"], "steady": sp <= m["bound"] / 3}
    return rows


def worse_by(m, a, b):
    """How much worse b is than a, as a share of a."""
    return (b - a) / a if m["better"] == "lower" else (a - b) / a


def compare(paths):
    s = spec()
    sets = []
    for p in paths:
        with open(p) as f:
            sets.append(json.load(f))
    ok = True
    for w in sets[0]["workloads"]:
        for m in s["end_to_end"]:
            a = sets[0]["workloads"][w]["summary"][m["name"]]
            b = sets[1]["workloads"][w]["summary"][m["name"]]
            d = worse_by(m, a["median"], b["median"])
            agree = d <= m["bound"]
            ok &= agree
            print(f"{w:10s} {m['name']:16s} median {a['median']:.4g} -> "
                  f"{b['median']:.4g} ({d:+.1%} worse, bound {m['bound']:.0%}) "
                  f"spread {a['spread']:.1%} / {b['spread']:.1%} "
                  f"{'ok' if agree else 'DISAGREE'}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        compare(args.compare)
    else:
        collect(args)


if __name__ == "__main__":
    main()
