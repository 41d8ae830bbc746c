#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
reads each <outDir>/<name> parquet (Spark result), runs the matching oracle
SQL from <outDir>/oracle_sql.json in DuckDB over the raw testdata parquet,
and compares schema + values (column-name-sorted, row-sorted, exact).

`--json <path>` also writes one record per query, in the committed
CORRECTNESS_r*.json shape: schema_match, rows_match, hash_match (all values
equal), spark_rows, oracle_rows and err (the failure line, or null).
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

args = sys.argv[1:]
json_out = None
if "--json" in args:
    i = args.index("--json")
    json_out = args[i + 1]
    del args[i:i + 2]
sf_dir, out_dir = args[0], args[1]
only = set(args[2].split(',')) if len(args) > 2 else None

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fail = 0
records = {}


def failed(name, msg, **rec):
    global fail
    print(f"FAIL {name}: {msg}")
    fail += 1
    records[name] = dict(dict(rows_match=False, schema_match=False, hash_match=False,
                              spark_rows=None, oracle_rows=None), **rec, err=msg)


for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        failed(name, "no spark output"); continue
    spark_df = pq.read_table(files).to_pandas()
    try:
        duck_df = con.execute(sql).df()
    except Exception as ex:
        failed(name, f"oracle error {ex}", spark_rows=len(spark_df)); continue
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    counts = dict(spark_rows=len(s), oracle_rows=len(d), rows_match=len(s) == len(d))
    if list(s.columns) != list(d.columns):
        failed(name, f"columns spark={list(s.columns)} duck={list(d.columns)}", **counts)
        continue
    if len(s) != len(d):
        failed(name, f"rows spark={len(s)} duck={len(d)}", **dict(counts, schema_match=True))
        continue
    # row-order-insensitive: sort both by all columns; numeric columns are
    # compared exactly as float64 (both sides emit doubles by contract)
    def norm(df):
        out = df.copy()
        for c in out.columns:
            try:
                out[c] = out[c].astype('float64')
                continue
            except (ValueError, TypeError):
                pass
            try:
                # dates/timestamps: canonical datetime64 (nulls become 'NaT'
                # on both sides)
                out[c] = pd.to_datetime(out[c], errors='raise').astype(str)
            except (ValueError, TypeError):
                col = out[c].astype(object)
                out[c] = col.where(pd.notna(col), '<NULL>').astype(str)
        return out
    s, d = norm(s), norm(d)
    key = list(s.columns)
    s2 = s.sort_values(key, ignore_index=True).astype(str)
    d2 = d.sort_values(key, ignore_index=True).astype(str)
    neq = (s2 != d2)
    if neq.any().any():
        bad_cols = [c for c in s2.columns if neq[c].any()]
        failed(name, f"{int(neq.any(axis=1).sum())}/{len(s2)} rows differ; cols={bad_cols}",
               **dict(counts, schema_match=True))
        for c in bad_cols[:4]:
            j = neq[c].idxmax()
            print(f"   [{c}] row {j}: spark={s2[c][j]!r} duck={d2[c][j]!r}")
        continue
    print(f"ok   {name} ({len(s)} rows, {len(s.columns)} cols)")
    records[name] = dict(counts, schema_match=True, hash_match=True, err=None)
print("RESULT:", "FAIL" if fail else "PASS", f"({len(oracle) if not only else len(only)} queries, {fail} failed)")
if json_out:
    with open(json_out, "w") as fh:
        json.dump(records, fh, indent=2, sort_keys=True)
        fh.write("\n")
sys.exit(1 if fail else 0)
