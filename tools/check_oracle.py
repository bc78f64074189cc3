"""Local pre-flight of the driver's correctness gate: run every
queries() entry and its oracle_sql() on the same sf dir, compare
row-count + column names + exact sorted values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns differ: spark={sorted(got.columns)} oracle={sorted(want.columns)}")
        return problems
    if len(got) != len(want):
        problems.append(f"row count: spark={len(got)} oracle={len(want)}")
    g = normalize(got)
    w = normalize(want)
    if len(g) == len(w):
        for c in g.columns:
            a, b = g[c], w[c]
            # The driver's value-hash is type-sensitive: DuckDB HUGEINT sums
            # materialize as float64 while Spark returns int64, hashing red even
            # when numerically equal. Flag kind mismatches instead of coercing.
            if a.dtype.kind != b.dtype.kind and not (
                    a.dtype.kind in "OU" and b.dtype.kind in "OU"):
                problems.append(
                    f"col {c}: dtype kind mismatch spark={a.dtype} oracle={b.dtype} "
                    f"(driver value-hash would differ even if values match)")
                continue
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                eq = (a.astype(np.float64).to_numpy() == b.astype(np.float64).to_numpy()) | \
                     (a.isna().to_numpy() & b.isna().to_numpy())
            else:
                eq = a.astype(str).to_numpy() == b.astype(str).to_numpy()
            if not eq.all():
                idx = int(np.argmin(eq))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches; first at row {idx}: "
                    f"spark={a.iloc[idx]!r} oracle={b.iloc[idx]!r}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.path.insert(0, ".")
    # one result per line: Spark's console progress bar otherwise shares
    # the terminal line with the ok/FAIL/rows lines (\r-separated). The
    # conf is static, so it goes to the JVM launch.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"))
    import __spark_entry__ as entrymod
    from tegola_spark.plans.session import get_spark

    spark = get_spark("oracle_check", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"rows  {name}: {len(got)} rows (no oracle)")
            continue
        try:
            want = con.sql(os_[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {e}")
            n_fail += 1
            continue
        problems = compare(name, got, want)
        if problems:
            n_fail += 1
            print(f"FAIL  {name}:")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"ok    {name}: {len(got)} rows")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
