#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate: run each oracle SQL
in DuckDB over the same parquet tables and compare to the Spark dump.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
"""
import json
import os
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    # Mirror the driver's compare: sort columns by name, then sort rows.
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    only = (re.compile(os.environ["SPARK_GRAFT_ONLY"])
            if os.environ.get("SPARK_GRAFT_ONLY") else None)
    failures = 0
    for name, sql in sorted(oracle.items()):
        # A filtered (SPARK_GRAFT_ONLY) dump has no dir for the queries the
        # filter excludes — skip exactly those (re.search, as graft.Verify
        # matches) BEFORE running the oracle SQL: some oracle replays are
        # deliberately expensive, and executing them for absent dumps turns
        # a 2-query pre-flight into a full-corpus replay. Any other missing
        # dir means the dump CRASHED, and that must stay a FAIL, not a
        # silent skip.
        if only is not None and not only.search(name):
            print(f"SKIP {name}: not selected by SPARK_GRAFT_ONLY")
            continue
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"FAIL {name}: not dumped (dump step crashed?)")
            failures += 1
            continue
        try:
            exp = con.execute(sql).fetchdf()
            got = duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            failures += 1
            continue
        exp_c, got_c = canon(exp), canon(got)
        if list(exp_c.columns) != list(got_c.columns):
            print(f"FAIL {name}: columns {list(got_c.columns)} != {list(exp_c.columns)}")
            failures += 1
        elif len(exp_c) != len(got_c):
            print(f"FAIL {name}: rows {len(got_c)} != {len(exp_c)}")
            failures += 1
        elif list(exp_c.dtypes) != list(got_c.dtypes):
            print(f"FAIL {name}: dtypes spark={list(got_c.dtypes)} oracle={list(exp_c.dtypes)}")
            failures += 1
        elif not exp_c.equals(got_c):
            neq = (exp_c != got_c) & ~(exp_c.isna() & got_c.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {bad.sum()} differing rows; first:")
            if bad.any():
                idx = bad[bad].index[0]
                print("  oracle:", dict(exp_c.loc[idx]))
                print("  spark :", dict(got_c.loc[idx]))
            failures += 1
        else:
            print(f"OK   {name} ({len(got_c)} rows)")
    # rows-only entries (queries without oracle)
    dumped = {d for d in os.listdir(out_dir)
              if os.path.isdir(os.path.join(out_dir, d))}
    for name in sorted(dumped - set(oracle)):
        n = duckdb.connect().execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchone()[0]
        print(f"ROWS {name}: {n}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
