#!/usr/bin/env python3
"""Self-check mirroring the driver's correctness gate: run Verify's parquet
outputs against SparkEntry.oracleSql executed in DuckDB over the same
testdata tables; compare sorted-by-name columns, sorted rows, value hashes.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize timestamp-ish columns to ns for comparison
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def compare(spark_df, duck_df, name):
    """Column-by-column compare of two canon()'d frames; returns the
    mismatch messages ("<name>: ..." or "<name>.<column>: ..."), empty on
    a match. Float columns compare exactly (NaN equals NaN), every other
    column by its string form."""
    if list(spark_df.columns) != list(duck_df.columns):
        return [f"{name}: columns spark={list(spark_df.columns)} "
                f"duck={list(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        return [f"{name}: rows spark={len(spark_df)} duck={len(duck_df)}"]
    msgs = []
    for c in spark_df.columns:
        a, b = spark_df[c], duck_df[c]
        try:
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                bad = ~(np.isclose(a.astype(float), b.astype(float),
                                   rtol=0, atol=0, equal_nan=True))
            else:
                bad = ~(a.astype(str) == b.astype(str))
        except Exception as e:
            msgs.append(f"{name}.{c}: compare error {e}")
            break
        if bad.any():
            # bad is an ndarray on the float path, a Series on the
            # string path — argmax works for both
            i = int(np.argmax(np.asarray(bad)))
            msgs.append(f"{name}.{c}: {int(bad.sum())}/{len(a)} mismatches, "
                        f"first@{i}: spark={a[i]!r} duck={b[i]!r}")
    return msgs

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # ScaleGen corpora write multi-part dirs
            p = os.path.join(p, "*.parquet")
        if glob.glob(p) or os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        qdir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
            duck_df = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        msgs = compare(spark_df, duck_df, name)
        for m in msgs:
            print(f"FAIL {m}")
        if not msgs:
            print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
