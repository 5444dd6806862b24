#!/usr/bin/env python3
"""Compare two capture sets made by capture.py on the same code or on a
parent and a change.

    python3 perfbench/compare.py perfbench/baseline/capture_1.json new.json

Refuses to compare captures made on different machine shapes (cores, heap,
JDK, Spark): numbers from a 4-core and a 32-core machine do not compare.
For each workload and end-to-end metric it prints both medians and flags a
metric whose second median is worse than the first by more than its bound.
Exits 1 if any metric is flagged, 2 if the shapes differ.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def medians(cap):
    out = {}
    for r in cap["runs"]:
        if not r["result"]:
            continue
        for k, v in r["result"]["metrics"].items():
            out.setdefault((r["workload"], k), []).append(v["value"])
    return {k: statistics.median(v) for k, v in out.items()}


def main():
    a_path, b_path = sys.argv[1], sys.argv[2]
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    if a["shape"] is None or a["shape"] != b["shape"]:
        print(f"refusing to compare: machine shapes differ\n  {a_path}: {a['shape']}\n"
              f"  {b_path}: {b['shape']}", file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    ma, mb = medians(a), medians(b)
    worse = 0
    for (w, k) in sorted(ma):
        if k not in spec or (w, k) not in mb:
            continue
        m = spec[k]
        change = (mb[(w, k)] - ma[(w, k)]) / ma[(w, k)]
        bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
        worse += bad
        print(f"{w:15s} {k:16s} {ma[(w, k)]:12.4f} -> {mb[(w, k)]:12.4f} "
              f"{change:+.2%} (bound {m['bound']:.0%}){'  WORSE' if bad else ''}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
