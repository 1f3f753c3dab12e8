#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate (dev tool only — NOT part of
the Spark library): compare Verify output parquet against DuckDB oracle SQL.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>
"""
import sys, os, json, duckdb

out_dir, sf_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
ok, bad = [], []
for name in sorted(os.listdir(out_dir)):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    if name not in oracle:
        print(f"  [rows-only] {name}: {len(got)} rows")
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        bad.append(name); print(f"FAIL {name}: oracle SQL error: {e}"); continue
    # canonicalize: sort columns by name, sort rows, compare.
    # STRICT_ORDER=1 skips the row sort — verifies the engine's explicit
    # ORDER BY matches the oracle's exactly (stronger than the driver needs).
    strict = os.environ.get("STRICT_ORDER") == "1"
    got2 = got[sorted(got.columns)].reset_index(drop=True)
    exp2 = exp[sorted(exp.columns)].reset_index(drop=True)
    if not strict:
        got2 = got2.sort_values(by=sorted(got.columns)).reset_index(drop=True)
        exp2 = exp2.sort_values(by=sorted(exp.columns)).reset_index(drop=True)
    if list(got2.columns) != list(exp2.columns):
        bad.append(name); print(f"FAIL {name}: columns {list(got2.columns)} vs {list(exp2.columns)}"); continue
    if len(got2) != len(exp2):
        bad.append(name); print(f"FAIL {name}: rows {len(got2)} vs {len(exp2)}"); continue
    if got2.equals(exp2):
        ok.append(name)
    else:
        diff = (got2 != exp2) & ~(got2.isna() & exp2.isna())
        ncell = int(diff.values.sum())
        bad.append(name)
        print(f"FAIL {name}: {ncell} differing cells")
        rows = diff.any(axis=1)
        print("  got:", got2[rows].head(3).to_dict("records"))
        print("  exp:", exp2[rows].head(3).to_dict("records"))
# Verify skips the output of a query that failed (logged to stderr), but
# keeps its oracle key: no output is a failure, not a silent omission
for name in sorted(oracle):
    if not os.path.isdir(os.path.join(out_dir, name)):
        bad.append(name); print(f"FAIL {name}: missing output")
print(f"\n{len(ok)} exact-match, {len(bad)} failing: {bad}")
