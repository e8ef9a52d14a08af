#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate: run graft.Verify at a
given SF, then execute each oracle SQL in DuckDB over the same parquet tables
and compare row counts, sorted columns, and values.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify]
"""
import json, math, os, subprocess, sys, glob

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
skip = "--skip-verify" in sys.argv

if not skip:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True)
    tail = (r.stdout + r.stderr)[-3000:]
    if r.returncode != 0:
        print(tail); sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

import duckdb, pandas as pd
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
n_pass = n_fail = 0
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    got = pd.read_parquet(d)
    if name not in oracle:
        print(f"  {name:28s} rows-only: {len(got)} rows " + ("OK" if len(got) > 0 else "EMPTY!"))
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name:28s} oracle SQL error: {e}"); n_fail += 1; continue
    ok = True; why = ""
    if sorted(got.columns) != sorted(exp.columns):
        ok, why = False, f"cols {sorted(got.columns)} vs {sorted(exp.columns)}"
    elif len(got) != len(exp):
        ok, why = False, f"rows {len(got)} vs {len(exp)}"
    else:
        g = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
        e = exp[sorted(exp.columns)].sort_values(sorted(exp.columns)).reset_index(drop=True)
        for c in g.columns:
            gv, ev = g[c], e[c]
            # The driver hashes STRING renderings of values, so an int column
            # on one side vs float on the other ("500" vs "500.0") is a FAIL
            # even when numerically equal. DuckDB's sum(BIGINT) -> HUGEINT ->
            # pandas float64 is the classic trigger; oracles must CAST.
            if gv.dtype.kind != ev.dtype.kind and 'f' in (gv.dtype.kind, ev.dtype.kind):
                ok, why = False, (f"col {c} dtype kind {gv.dtype.kind} vs {ev.dtype.kind} "
                                  "(driver hashes strings; CAST the oracle)")
                break
            if gv.dtype.kind == 'f' or ev.dtype.kind == 'f':
                bad = ~((gv.isna() & ev.isna()) | ((gv - ev).abs() < 1e-9))
            else:
                bad = gv.astype(str) != ev.astype(str)
            if bad.any():
                i = bad.idxmax()
                ok, why = False, f"col {c} row {i}: {gv[i]!r} vs {ev[i]!r} ({int(bad.sum())} diffs)"
                break
    if ok:
        n_pass += 1
        print(f"  {name:28s} PASS ({len(got)} rows)")
    else:
        n_fail += 1
        print(f"FAIL {name:28s} {why}")

print(f"\n{n_pass} pass, {n_fail} fail, {len(oracle)} oracled")
sys.exit(1 if n_fail else 0)
