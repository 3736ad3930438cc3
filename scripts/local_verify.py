#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness check.

Usage: python3 scripts/local_verify.py <sf_dir> <verify_out_dir>

For each query dumped by graft.Verify, runs the oracle SQL from
oracle_sql.json in DuckDB over the same parquet tables, sorts columns by
name and rows by value, and compares cell-by-cell.
"""
import json
import math
import re
import sys

import duckdb
import pyarrow.dataset as ds

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            n_fail += 1
            continue
        try:
            got = ds.dataset(f"{out_dir}/{name}").to_table()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {str(e)[:120]}")
            n_fail += 1
            continue
        wcols, gcols = sorted(want.column_names), sorted(got.column_names)
        if wcols != gcols:
            print(f"FAIL {name}: columns differ: oracle={wcols} spark={gcols}")
            n_fail += 1
            continue
        # The driver's hash is type-aware: a DuckDB HUGEINT/DECIMAL where
        # Spark wrote BIGINT fails its hash even when every value matches
        # (round-15 pack1_token_chunks). Flag physical-type divergence hard —
        # except timestamp UNIT (us vs ns), which the driver's hash
        # normalizes (sq5 has always passed with oracle us vs spark ns).
        # The time zone is kept: tz-aware vs tz-naive fails the driver's hash.
        def tnorm(t):
            return re.sub(r"timestamp\[(us|ns)", "timestamp[", str(t))
        tdiff = [(c, str(want.schema.field(c).type), str(got.schema.field(c).type))
                 for c in wcols
                 if tnorm(want.schema.field(c).type) != tnorm(got.schema.field(c).type)]
        if tdiff:
            print(f"FAIL {name}: column types differ (driver hash is "
                  f"type-aware): {tdiff}")
            n_fail += 1
            continue
        from collections import Counter
        wrows = Counter(tuple(norm(r[c]) for c in wcols) for r in want.to_pylist())
        grows = Counter(tuple(norm(r[c]) for c in wcols) for r in got.to_pylist())
        if sum(wrows.values()) != sum(grows.values()):
            print(f"FAIL {name}: row count oracle={sum(wrows.values())} "
                  f"spark={sum(grows.values())}")
            n_fail += 1
        elif wrows != grows:
            only_w = list((wrows - grows).keys())[:2]
            only_g = list((grows - wrows).keys())[:2]
            print(f"FAIL {name}: rows differ; oracle-only={only_w} spark-only={only_g}")
            n_fail += 1
        else:
            print(f"PASS {name} ({sum(wrows.values())} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{len(oracle)} oracled queries")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
