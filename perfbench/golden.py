#!/usr/bin/env python3
"""Order-insensitive result digests for the SparkEntry queries the
benchmark runs, and the tool that records their golden values.

A digest canonicalises a result the way scripts/check_oracle.py compares
one: columns sorted by name, rows sorted on every column, every cell
stringified by pandas; it then hashes the column names and the cells.

Recording the golden values replays each query's SparkEntry.oracleSql in
the local DuckDB over the benchmark's own tables (data/sf0.01). The
oracle SQL comes from the built benchmark:

    java -cp <classpath> perfbench.Main oracles oracles.json
    python3 perfbench/golden.py oracles.json   # rewrites perfbench/golden.json
"""
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
GOLDEN = os.path.join(HERE, "golden.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def digest(df):
    """(rows, sha256) of a pandas frame, independent of row and column order."""
    a = df.reindex(sorted(df.columns), axis=1)
    s = a.sort_values(by=list(a.columns)).reset_index(drop=True).astype(str)
    h = hashlib.sha256()
    h.update("\x1f".join(s.columns).encode())
    for row in s.itertuples(index=False):
        h.update(b"\n")
        h.update("\x1f".join(row).encode())
    return len(s), h.hexdigest()


def connect(data_dir=DATA):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{data_dir}/{t}.parquet'")
    return con


def main(oracles_file):
    oracles = json.load(open(oracles_file))
    con = connect()
    golden = {}
    for name in sorted(oracles):
        rows, sha = digest(con.sql(oracles[name]).df())
        golden[name] = {"rows": rows, "sha256": sha}
        print(f"{name}: {rows} rows {sha[:16]}")
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
