"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row-count + columns + order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("int32", "int16", "int8", "uint32"):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        # the gate runs 60+ queries in one session; default 1g driver heap
        # has flaked with GC-pressure stack traces under concurrent load
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # drop anything a query persisted so a full gate run doesn't
            # accumulate session-lifetime cache entries
            spark.catalog.clearCache()
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"[FAIL] {name}: spark error {str(exc)[:300]}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            if "span_ok" in sdf.columns and not sdf["span_ok"].fillna(True).all():
                failures.append((name, "span_ok has False rows"))
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            failures.append((name, f"DUCKDB ERROR: {exc}"))
            print(f"[FAIL] {name}: duckdb error {str(exc)[:300]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems:
            a, b = normalize(sdf), normalize(odf)
            if list(a.dtypes.astype(str)) != list(b.dtypes.astype(str)):
                problems.append(
                    f"dtypes {dict(a.dtypes.astype(str))} != {dict(b.dtypes.astype(str))}"
                )
            try:
                pd.testing.assert_frame_equal(a, b, check_exact=True)
            except AssertionError as exc:
                problems.append("values: " + str(exc).split("\n")[0])
                # show a sample diff
                neq = (a != b) & ~(a.isna() & b.isna())
                bad = neq.any(axis=1)
                if bad.any():
                    i = bad.idxmax()
                    problems.append(f"first diff row {i}: spark={a.loc[i].to_dict()} oracle={b.loc[i].to_dict()}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"[FAIL] {name}: " + "; ".join(p[:400] for p in problems))
        else:
            print(f"[OK]   {name}: {len(sdf)} rows match")

    spark.stop()
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, p in failures:
            print(" -", n, "→", p[:300])
        sys.exit(1)
    print("all queries pass")


if __name__ == "__main__":
    main()
