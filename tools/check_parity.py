"""Local stand-in for the driver's correctness gate: run every REGISTRY
query on Spark AND its DuckDB oracle over the same parquet tables, compare
row count, column names, and order-insensitive values.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from __spark_entry__ import _ensure_pyfiles  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_conn(sf_dir: str):
    """DuckDB views of the tables in ``sf_dir``; a table is a parquet
    file or a directory of them (a Spark-written table)."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p += "/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("float", "Float")):
            df[c] = df[c].round(6)
        elif str(df[c].dtype) in ("bool", "boolean"):
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = pd.to_numeric(df[c]).astype("Int64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_df, oracle_df) -> list[str]:
    issues = []
    s, o = normalize(spark_df), normalize(oracle_df)
    if sorted(s.columns) != sorted(o.columns):
        issues.append(f"columns differ: {list(s.columns)} vs"
                      f" {list(o.columns)}")
        return issues
    if len(s) != len(o):
        issues.append(f"row count {len(s)} vs {len(o)}")
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False,
                                      check_exact=False, rtol=1e-6)
    except AssertionError as e:
        issues.append(str(e).split("\n")[0])
        merged = s.merge(o, how="outer", indicator=True,
                         on=list(s.columns))
        diff = merged[merged["_merge"] != "both"]
        issues.append(f"  {len(diff)} differing rows; sample:\n"
                      f"{diff.head(6).to_string()}")
    return issues


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from sparklog.queries import REGISTRY, release_caches
    from sparklog.session import get_spark

    spark = get_spark("local[8]", shuffle_partitions=8)
    _ensure_pyfiles(spark)   # workers import sparklog from any cwd
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_conn(sf_dir)

    failed = []
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            release_caches()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: "
                  f"{str(e)[:300]}")
            continue
        if sql is None:
            print(f"SKIP  {name}: no oracle (rows={len(sdf)})")
            continue
        if callable(sql):      # corpus-dependent builder (sf_dir -> sql)
            sql = sql(sf_dir)
        try:
            odf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            continue
        issues = compare(name, sdf, odf)
        if issues:
            failed.append(name)
            print(f"FAIL  {name}: " + " | ".join(issues[:2]))
        else:
            print(f"OK    {name}  rows={len(sdf)}")
    print(f"\n{len(failed)} failed" if failed else "\nALL OK")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
