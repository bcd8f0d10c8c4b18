#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate: read each
queries() parquet dump, run the matching oracleSql in DuckDB over the
same sf tables, and compare (column names sorted, then BOTH result
types and exact values).

Types are compared on the Arrow schema (duckdb .arrow() vs parquet),
so a DuckDB HUGEINT (int128 -> decimal128) vs Spark BIGINT skew fails
here the same way it fails the driver's type-sensitive hash — pandas
coercion used to mask exactly that. Values are compared as exact
Python objects (ints never coerced to float, so >2^53 hash columns
can't silently collide).

The per-query comparison is check_oracle_par.check_one, run once per
query in order; check_oracle_par.py shards the same call across
processes for big scale factors.

Usage:
  python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01
This is a builder-side dev tool only (driver-side python env), not part
of the Scala library.
"""
import json
import sys

from check_oracle_par import check_one

out_dir, sf_dir = sys.argv[1], sys.argv[2]
oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    _, rec, _ = check_one((name, sql, out_dir, sf_dir))
    if rec["hash_match"]:
        print(f"OK    {name} ({rec['spark_rows']} rows)")
    else:
        print(f"FAIL  {name}: {rec['err']}")
        fails += 1
print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
