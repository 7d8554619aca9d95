#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py [sf_dir] [out_dir]
Reads outDir/<name>/ parquet (written by graft.Verify) + oracle_sql.json,
runs each oracle in DuckDB over the same sf tables, and compares:
column names (sorted), dtypes (loose), row count, and values after
sorting rows by all columns. Exact for non-floats; floats must match to
1e-12 relative.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracles = json.load(open(f"{out}/oracle_sql.json"))

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype) == "object":
            # Decimal objects -> str for stable compare
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

fails, passes, skips = [], [], []
names = sorted(os.listdir(out))
for name in names:
    path = os.path.join(out, name)
    if not os.path.isdir(path):
        continue
    files = glob.glob(f"{path}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    if name not in oracles:
        skips.append(f"{name}: rows-only ({len(got)} rows)")
        if len(got) == 0:
            fails.append(f"{name}: ROWS-ONLY BUT EMPTY")
        continue
    try:
        exp = con.sql(oracles[name]).df()
    except Exception as e:
        fails.append(f"{name}: oracle SQL error: {e}")
        continue
    g, e = norm(got.copy()), norm(exp.copy())
    if list(g.columns) != list(e.columns):
        fails.append(f"{name}: columns differ spark={list(g.columns)} duck={list(e.columns)}")
        continue
    if len(g) != len(e):
        fails.append(f"{name}: rowcount spark={len(g)} duck={len(e)}")
        continue
    bad = None
    for c in g.columns:
        gv, ev = g[c], e[c]
        if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
            a = gv.astype(float).to_numpy(); b = ev.astype(float).to_numpy()
            m = ~(np.isclose(a, b, rtol=1e-12, atol=1e-12) | (np.isnan(a) & np.isnan(b)))
            if m.any():
                bad = f"col {c}: {m.sum()} float diffs, first spark={a[m][0]!r} duck={b[m][0]!r}"
                break
        else:
            m = ~((gv == ev) | (gv.isna() & ev.isna()))
            if m.any():
                i = m.idxmax()
                bad = f"col {c}: {m.sum()} diffs, first spark={gv[i]!r} duck={ev[i]!r}"
                break
    if bad:
        fails.append(f"{name}: {bad}")
    else:
        passes.append(name)

print(f"PASS {len(passes)}: {' '.join(passes)}")
for s in skips: print(f"SKIP {s}")
for f in fails: print(f"FAIL {f}")
sys.exit(1 if fails else 0)
