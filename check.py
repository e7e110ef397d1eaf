#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare Verify's
parquet dumps against the DuckDB oracle SQL. An oracle key with no
output (the query crashed in Verify) counts as a failure; exits 1 when
anything failed. Usage:
  python3 check.py [sfdir] [outdir]
"""
import json, sys, glob, os, gc
import duckdb
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
# bound the allocator: at sf0.1 with 80+ oracle bodies one connection
# otherwise accumulates past the box and dies mid-run
con.sql("SET memory_limit='24GB'")
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok = fail = 0
for name in sorted(os.listdir(outdir)):
    path = os.path.join(outdir, name)
    if not os.path.isdir(path):
        continue
    gc.collect()
    got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
    if name not in oracle:
        print(f"{name:24s} rows-only: {len(got)} rows " +
              ("OK" if len(got) > 0 else "EMPTY!"))
        continue
    exp = con.sql(oracle[name]).df()
    # canonical: sort columns by name, then sort rows, compare
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    problems = []
    if list(got.columns) != list(exp.columns):
        problems.append(f"cols {list(got.columns)} vs {list(exp.columns)}")
    elif len(got) != len(exp):
        problems.append(f"rowcount {len(got)} vs {len(exp)}")
    else:
        gs = got.sort_values(list(got.columns)).reset_index(drop=True)
        es = exp.sort_values(list(exp.columns)).reset_index(drop=True)
        for c in got.columns:
            a, b = gs[c], es[c]
            if str(a.dtype) != str(b.dtype):
                problems.append(f"dtype[{c}] {a.dtype} vs {b.dtype}")
            eq = (a == b) | (a.isna() & b.isna())
            if not eq.all():
                i = (~eq).idxmax()
                problems.append(f"val[{c}]@{i}: {a[i]!r} vs {b[i]!r} ({(~eq).sum()} diffs)")
    if problems:
        fail += 1
        print(f"{name:24s} FAIL: " + "; ".join(problems[:4]))
    else:
        ok += 1
        print(f"{name:24s} OK ({len(got)} rows)")
missing = sorted(set(oracle) - set(os.listdir(outdir)))
for name in missing:
    print(f"{name:24s} FAIL: no output")
fail += len(missing)
print(f"\n{ok} ok, {fail} fail, oracle keys without output: {missing}")
sys.exit(1 if fail else 0)
