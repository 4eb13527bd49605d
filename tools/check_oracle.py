#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify, then
run each oracleSql in DuckDB over the same sf dir and compare values.
Usage: python3 tools/check_oracle.py [sfdir] [outdir] [--skip-verify] [query...]
A named query that oracle_sql.json does not list counts as a failure.
"""
import sys, os, json, subprocess, glob

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
flags = set(a for a in sys.argv[3:] if a.startswith("--"))
only = [a for a in sys.argv[3:] if not a.startswith("--")]

if "--skip-verify" not in flags:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.stdout.write("\n".join(l for l in r.stdout.splitlines()
                               if "[verify]" in l or "error" in l.lower()) + "\n")
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)

import duckdb
import pandas as pd

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0
names = only or sorted(oracle.keys())
for name in names:
    if name not in oracle:
        print(f"{name}: FAIL not a query of oracle_sql.json"); fails += 1; continue
    sql = oracle[name]
    if sql is None:
        print(f"{name}: NO ORACLE (rows-only)"); continue
    spark_dir = f"{outdir}/{name}"
    if not os.path.isdir(spark_dir):
        print(f"{name}: FAIL spark output missing"); fails += 1; continue
    sdf = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{spark_dir}/*.parquet"))],
                    ignore_index=True)
    try:
        ddf = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"{name}: FAIL duckdb error: {e}"); fails += 1; continue
    scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
    if scols != dcols:
        print(f"{name}: FAIL schema spark={scols} duck={dcols}"); fails += 1; continue
    sdf, ddf = sdf[scols], ddf[scols]
    if len(sdf) != len(ddf):
        print(f"{name}: FAIL rows spark={len(sdf)} duck={len(ddf)}"); fails += 1; continue
    # value compare, row-order-sensitive (queries order deterministically)
    bad = None
    for c in scols:
        a = sdf[c].astype(object).where(sdf[c].notna(), None).tolist()
        b = ddf[c].astype(object).where(ddf[c].notna(), None).tolist()
        def norm(v):
            if v is None: return None
            if isinstance(v, float): return round(v, 9)
            if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                return tuple(norm(x) for x in v)
            try:
                import numpy as np
                if isinstance(v, np.integer): return int(v)
                if isinstance(v, np.floating): return round(float(v), 9)
                if isinstance(v, np.bool_): return bool(v)
            except ImportError:
                pass
            import decimal
            if isinstance(v, decimal.Decimal): return str(v.normalize())
            return v
        for i, (x, y) in enumerate(zip(a, b)):
            if norm(x) != norm(y):
                bad = (c, i, x, y); break
        if bad: break
    if bad:
        c, i, x, y = bad
        print(f"{name}: FAIL value col={c} row={i}\n  spark={x!r}\n  duck ={y!r}")
        fails += 1
    else:
        print(f"{name}: OK ({len(sdf)} rows)")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
