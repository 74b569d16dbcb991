#!/usr/bin/env python3
"""Dev-side replica of the driver's correctness gate: reads Verify's
output dir (<out>/<name>/ parquet + oracle_sql.json), runs each oracle in
DuckDB against the same sf dir, and diffs (schema-name-sorted columns,
row-order-insensitive, exact values). NOT part of the library runtime.

Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob
import duckdb

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    # a split fixture holds each table as a directory of part files
    path = f"{sf}/{t}.parquet"
    if os.path.isdir(path):
        path += "/*.parquet"
    con.sql(f"CREATE VIEW {t} AS FROM '{path}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails, passes, skips = [], [], []
names = sorted([os.path.basename(p) for p in glob.glob(f"{out}/*") if os.path.isdir(p)])
for name in names:
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        fails.append((name, "no parquet written")); continue
    spark_df = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
    if name not in oracle:
        skips.append((name, len(spark_df))); continue
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}")); continue
    a = spark_df.reindex(sorted(spark_df.columns), axis=1)
    b = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(a.columns) != list(b.columns):
        fails.append((name, f"columns {list(a.columns)} vs {list(b.columns)}")); continue
    if len(a) != len(b):
        fails.append((name, f"rows {len(a)} vs {len(b)}")); continue
    # normalize EXACTLY like the driver's gate: sort the RAW frame first
    # (array/map cells crash pandas here, as they crash the driver —
    # round-6 q104 passed locally only because this script used to
    # stringify before sorting; Verify's schema guard now rejects such
    # queries, and this script must reproduce the driver's behavior so
    # local green always predicts driver green), then stringify.
    try:
        astr = a.sort_values(by=list(a.columns)).reset_index(drop=True).astype(str)
        bstr = b.sort_values(by=list(b.columns)).reset_index(drop=True).astype(str)
    except Exception as e:
        fails.append((name, f"driver-style canonicalization failed: {e}")); continue
    if astr.equals(bstr):
        passes.append((name, len(a)))
    else:
        diff = (astr != bstr).any(axis=1)
        idx = diff[diff].index[:3]
        detail = "; ".join(
            f"row{j}: spark={astr.loc[j].tolist()} duck={bstr.loc[j].tolist()}"
            for j in idx)
        fails.append((name, f"value mismatch {int(diff.sum())}/{len(a)} rows: {detail}"))

for n, r in passes: print(f"PASS  {n} ({r} rows)")
for n, r in skips: print(f"SKIP  {n} (no oracle, {r} rows)")
for n, r in fails: print(f"FAIL  {n}: {r}")
print(f"\n{len(passes)} pass, {len(skips)} rows-only, {len(fails)} fail")
sys.exit(1 if fails else 0)
