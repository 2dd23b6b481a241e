#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares:
  - row count
  - schema (sorted column names)
  - order-insensitive value hash (columns sorted by name, rows sorted,
    floats rounded to 9 significant-ish decimals before hashing)

Usage: python tools/check_oracle.py [sf_dir] [query ...]
(an unknown query name exits 2 before any Spark session starts)
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    df = canon(df)
    payload = df.to_csv(index=False, float_format="%.9g").encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(args[1:]) if args and os.path.isdir(args[0]) else set(args)

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        # a typo must not pass the gate as "0 pass, 0 fail"
        print(f"unknown queries: {', '.join(unknown)}\n"
              f"valid queries: {', '.join(qs)}", file=sys.stderr)
        sys.exit(2)

    from geo_raster_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"schema {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"value-hash {hs} != {ho}")
                cs, co = canon(sdf), canon(odf)
                diff = (cs != co)
                if diff.to_numpy().any():
                    idx = diff.any(axis=1)
                    print(cs[idx].head(3).to_string())
                    print("--- vs oracle ---")
                    print(co[idx].head(3).to_string())
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
