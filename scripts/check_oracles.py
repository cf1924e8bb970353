"""Local emulation of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet,
compare row count, schema (column names), and an order-insensitive value
hash (columns sorted by name, rows sorted, values canonicalized).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    for c in df.columns:
        df[c] = df[c].map(cell)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from coa_ocr_simple_spark.session import make_session

    spark = make_session("pyspark-shell", "local[8]", 8, ["spark.ui.enabled=false"])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # the driver checks queries(); the extras (parameter variants demoted
    # from the 50-entry registry) are held to the same bar locally
    queries = {**entrymod.queries(), **entrymod.extra_queries()}
    oracles = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        # several queries persist() shared subtrees internally; drop those
        # blocks between queries (same contract as bench.py)
        spark.catalog.clearCache()
        spark_df = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"[rows-only] {name}: {len(spark_df)} rows")
            continue
        duck_df = con.execute(oracles[name]).df()
        ok_rows = len(spark_df) == len(duck_df)
        a, b = canon(spark_df), canon(duck_df)
        ok_cols = list(a.columns) == list(b.columns)
        ok_vals = ok_rows and ok_cols and a.equals(b)
        status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
        print(f"[{status}] {name}: rows spark={len(spark_df)} duck={len(duck_df)} cols={ok_cols} vals={ok_vals}")
        if status == "FAIL":
            failures += 1
            if ok_cols and ok_rows:
                neq = a.ne(b)
                bad = neq.any(axis=1)
                print("  first diffs (spark vs duck):")
                print(pd.concat([a[bad].head(3), b[bad].head(3)], axis=0))
            else:
                print("  spark cols:", list(a.columns))
                print("  duck  cols:", list(b.columns))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
