#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny run of each workload must pass its
checks, and a deliberately broken output must be counted as failed.

    python3 perfbench/selftest.py

Broken outputs: one planted title pair removed from the served payroll
(`pair`), one served page truncated before its closing bracket (`page`),
one gold row count off by one (`count`) and one curation-battery row count
off by one (`rows`, in a traced run, which is the run that has the
battery). An untraced tiny run takes about a minute on a 4-core machine, a
traced one about two.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, brk="", trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    if brk:
        cmd += ["--break", brk]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    last = p.stdout.splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, json.loads(last) if last.startswith("{") else None


def main():
    failures = []
    for w, trace in (("weekly_chain", 0), ("report_paging", 1)):
        code, res = run(w, trace=trace)
        ok = code == 0 and res and res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        print(f"{w} trace={trace}: exit {code}, {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}"
              f" -> {'ok' if ok else 'FAIL'}", flush=True)
        if not ok:
            failures.append(w)
    for brk, trace in (("pair", 0), ("page", 0), ("count", 0), ("rows", 1)):
        code, res = run("report_paging", brk, trace)
        ok = code != 0 and res and not res["correct"] and res["failed"] >= 1
        print(f"break={brk}: exit {code}, failed {res and res['failed']}"
              f" -> {'ok' if ok else 'FAIL'}", flush=True)
        if not ok:
            failures.append(brk)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
