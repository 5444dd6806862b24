#!/usr/bin/env python3
"""Capture a set of benchmark runs: each workload once per seed.

    python3 perfbench/capture.py --runs 10 --out perfbench/baseline/capture_1.json

Writes every run's result with the machine shape it ran on, and prints each
end-to-end metric's median and its spread (the distance between the first
and third quartile, as a share of the median) next to the metric's bound
from BENCHMARK.json. A spread above a third of its bound is flagged. With
--trace 1 it does the same for the per-layer metrics, which have no bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.splitlines()
    shape = next((json.loads(l[len("# shape "):]) for l in lines if l.startswith("# shape ")), None)
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
            "shape": shape, "result": result}


def summarize(bench, runs, trace):
    bounds = {m["name"]: m.get("bound") for m in bench["per_layer" if trace else "end_to_end"]}
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w and r["result"]]
        out[w] = {}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in rs
                    if name in r["result"]["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else 0.0
            out[w][name] = {"median": med, "spread": spread, "bound": bound, "n": len(vals)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs = []
    for w in workloads:
        for seed in range(a.seed0, a.seed0 + a.runs):
            r = run_once(w, seed, bench["run_seconds"], a.trace)
            runs.append(r)
            res = r["result"] or {}
            print(f"{w} seed={seed} exit={r['exit']} correct={res.get('correct')} "
                  f"failed={res.get('failed')}", file=sys.stderr, flush=True)
    shapes = {json.dumps(r["shape"], sort_keys=True) for r in runs if r["shape"]}
    summary = summarize(bench, runs, a.trace)
    with open(a.out, "w") as f:
        json.dump({"shape": json.loads(shapes.pop()) if len(shapes) == 1 else None,
                   "run_seconds": bench["run_seconds"], "summary": summary,
                   "runs": runs}, f, indent=1)
    for w, ms in summary.items():
        for name, s in ms.items():
            flag = "" if s["bound"] is None or s["spread"] <= s["bound"] / 3 else "  <-- above bound/3"
            print(f"{w:15s} {name:16s} median {s['median']:12.4f} spread {s['spread']:.4f} "
                  f"bound {s['bound']}{flag}")
    bad = [r for r in runs if r["exit"] != 0 or not r["result"] or not r["result"]["correct"]]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
