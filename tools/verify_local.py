"""Local mirror of the driver's correctness gate: run each catalog query in
Spark and its oracle SQL in DuckDB on the same parquet tables; compare row
count, column names, and exact values (rows sorted, columns sorted by name).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from id3c_spark.plans.queries import all_oracles, all_queries
from id3c_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b or (pd.isna(a) and pd.isna(b))


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    s = normalize(spark_pdf)
    d = normalize(duck_pdf)
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c], d[c])):
            if not values_equal(x, y):
                problems.append(f"value mismatch col={c} row={i}: spark={x!r} duck={y!r}")
                if len(problems) > 4:
                    return problems
    return problems


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # Lazily generated oracles (VALUES-literal mirrors) must read the same
    # fixture the queries run against.
    os.environ["ID3C_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark("verify_local")
    con = duckdb.connect()
    for tbl in TABLES:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")

    queries = all_queries()
    oracles = all_oracles()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(spdf)} rows")
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0]}")
            failures += 1
            continue
        problems = compare(name, spdf, dpdf)
        if problems:
            failures += 1
            print(f"FAIL {name}: ({len(spdf)} spark rows vs {len(dpdf)} duck rows)")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"PASS {name}: {len(spdf)} rows")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
