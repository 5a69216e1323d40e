#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify's parquet dumps
against the DuckDB oracles and diff. Usage: check.py <sfDir> <verifyOutDir>.
Also fails every query Verify listed in failed.txt and every oracle key
with no output directory, so a query that throws cannot drop out."""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
names = sorted([os.path.basename(d) for d in glob.glob(f"{outdir}/*") if os.path.isdir(d)])
fails, passes, rows_only = [], [], []
failed_path = f"{outdir}/failed.txt"
if os.path.exists(failed_path):
    for line in open(failed_path):
        name, _, msg = line.rstrip("\n").partition("\t")
        fails.append((name, f"Verify failed: {msg}"))
failed_names = {n for n, _ in fails}
for name in sorted(set(oracle) - set(names) - failed_names):
    fails.append((name, "no output directory"))
for name in names:
    if name in failed_names:  # a stale directory from an earlier run
        continue
    spark_df = pd.concat([pd.read_parquet(f) for f in
                          glob.glob(f"{outdir}/{name}/*.parquet")], ignore_index=True) \
               if glob.glob(f"{outdir}/{name}/*.parquet") else pd.DataFrame()
    if name not in oracle:
        rows_only.append((name, len(spark_df)))
        if len(spark_df) == 0:
            fails.append((name, "rows-only query returned 0 rows"))
        continue
    try:
        duck_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}")); continue
    # driver semantics: sort columns by name, then compare value multisets
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(d.columns):
        fails.append((name, f"columns differ: spark={list(s.columns)} duck={list(d.columns)}")); continue
    if len(s) != len(d):
        fails.append((name, f"row counts differ: spark={len(s)} duck={len(d)}")); continue
    s = s.sort_values(by=list(s.columns), ignore_index=True)
    d = d.sort_values(by=list(d.columns), ignore_index=True)
    ok = True
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == 'f' or dv.dtype.kind == 'f':
            same = np.allclose(sv.astype(float).fillna(np.nan),
                               dv.astype(float).fillna(np.nan),
                               rtol=0, atol=0, equal_nan=True)
        else:
            try:
                same = sv.astype(str).equals(dv.astype(str))
            except Exception:
                same = False
        if not same:
            diff = (sv.astype(str) != dv.astype(str))
            idx = diff[diff].index[:3].tolist()
            fails.append((name, f"col {c} differs at rows {idx}: "
                          f"spark={[sv.iloc[i] for i in idx[:3]]} duck={[dv.iloc[i] for i in idx[:3]]}"))
            ok = False
            break
    if ok:
        passes.append((name, len(s)))

print(f"PASS {len(passes)}  FAIL {len(fails)}  ROWS-ONLY {len(rows_only)}")
for n, r in passes: print(f"  pass {n} ({r} rows)")
for n, r in rows_only: print(f"  rows-only {n} ({r} rows)")
for n, msg in fails: print(f"  FAIL {n}: {msg}")
sys.exit(1 if fails else 0)
