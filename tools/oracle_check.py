#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify at a given SF dir, then executes every oracle SQL in
DuckDB over the same parquet tables and compares result sets the way the
driver does: pandas frames (so DuckDB decimals become float64 and Spark
decimal parquet becomes object — a mismatch we must never ship), sorted
by all columns, cells compared by exact value AND dtype. Queries without
an oracle still get a sortability check (the driver's rows-only path
sorts with pandas and crashes on array cells). Run before committing new
queries so the real gate never surprises us.

Usage: python3 tools/oracle_check.py [sfdir] [outdir] [--no-verify]
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

args = [a for a in sys.argv[1:] if a != "--no-verify"]
SF = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
OUT = Path(args[1] if len(args) > 1 else "/tmp/graft_verify")
RUN_VERIFY = "--no-verify" not in sys.argv
# the checkout this script lives in: Verify is built and run from here,
# whichever clone the script is invoked from
REPO = Path(__file__).resolve().parent.parent

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT}"],
        capture_output=True, text=True, cwd=REPO, timeout=1800)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(r.stderr[-4000:])
        sys.exit("verify run failed")


def norm(df):
    """Sort columns by name and rows by all columns, driver-style."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (a == b) or (np.isnan(a) and np.isnan(b))
    return type(a) is type(b) and a == b


def compare(name, sp, dk):
    if sorted(sp.columns) != sorted(dk.columns):
        print(f"FAIL {name}: columns {sorted(sp.columns)} vs {sorted(dk.columns)}")
        return False
    sp, dk = norm(sp), norm(dk)
    if len(sp) != len(dk):
        print(f"FAIL {name}: {len(sp)} spark rows vs {len(dk)} duckdb rows")
        return False
    ok = True
    for c in sp.columns:
        s, d = sp[c], dk[c]
        # kind-level check: decimal objects vs float64 is the classic trap.
        # Integer width (int32 vs int64) and datetime resolution (ns vs us)
        # hash-matched in the driver's round-1 gate, so only kind matters.
        sk, dk_ = s.dtype.kind, d.dtype.kind
        if not ({sk, dk_} <= set("iu") or sk == dk_):
            print(f"FAIL {name}: column {c} dtype {s.dtype} vs {d.dtype}")
            ok = False
            continue
        if sk in "iu":
            sa = s.to_numpy().astype(np.int64)
            da = d.to_numpy().astype(np.int64)
            bad = sa != da
        elif sk == "M":
            sa = s.to_numpy().astype("datetime64[ns]")
            da = d.to_numpy().astype("datetime64[ns]")
            bad = (sa != da) & ~(np.isnat(sa) & np.isnat(da))
        elif sk == "f":
            sa, da = s.to_numpy(), d.to_numpy()
            bad = ~((sa == da) | (np.isnan(sa) & np.isnan(da)))
        else:
            bad = np.array([not cells_equal(s.iloc[i], d.iloc[i])
                            for i in range(len(s))])
        if bad.any():
            i = int(np.argmax(bad))
            print(f"FAIL {name}: column {c} differs at row {i}: "
                  f"{s.iloc[i]!r} vs {d.iloc[i]!r} ({int(bad.sum())} cells)")
            ok = False
    return ok


def main():
    if RUN_VERIFY:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    failures = 0
    for name in sorted(p.name for p in OUT.iterdir() if p.is_dir()):
        sp = pd.read_parquet(OUT / name)
        if name not in oracle:
            # rows-only path still sorts in pandas — must not crash
            try:
                norm(sp)
            except Exception as e:
                print(f"FAIL {name}: rows-only sort crashed: {e}")
                failures += 1
                continue
            print(f"  [rows-only] {name}: {len(sp)} rows")
            continue
        dk = con.sql(oracle[name]).df()
        if compare(name, sp, dk):
            print(f"  OK {name}: {len(sp)} rows")
        else:
            failures += 1
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
