"""ANALYZE-TABLE-style column profiler for any parquet/Iceberg table —
the stats pass a pipeline runs before planning a corpus build (or
feeding a cost-based optimizer): per column, row/null counts, min/max,
and a HyperLogLog distinct-cardinality estimate.

Scale shape (exactly two passes, both bounded):

1. one hash-free aggregate computes COUNT(*), per-column null counts
   and native-typed min/max in a single map-side-combinable pass — the
   result is ONE row, exploded into long format on the executor;
2. the columns are stacked into (column, value) pairs — k rows per
   input row, column-pruned to the profiled columns — and fed to the
   shared HLL register builder (plans/driver_queries_sketch): the
   distinct shuffle carries at most 256 register rows PER COLUMN no
   matter the table size, where COUNT(DISTINCT) per column would
   shuffle every distinct value of every column.

Only atomic columns (string/numeric/date/timestamp/boolean/binary-less)
are profiled; array/map/struct columns are skipped and listed in the
summary so the caller knows coverage.

Usage:
  python -m coa_ocr_simple_spark.jobs.profile_table \\
      --input /path/table.parquet --output /path/profile \\
      [--columns a,b,c]
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import TableIO
from . import _cli

_ATOMIC = {
    "string",
    "byte",
    "short",
    "integer",
    "long",
    "float",
    "double",
    "decimal",
    "date",
    "timestamp",
    "timestamp_ntz",
    "boolean",
}


def _atomic_columns(df: DataFrame) -> list[str]:
    out = []
    for field in df.schema.fields:
        name = field.dataType.typeName()
        if name in _ATOMIC or name.startswith("decimal"):
            out.append(field.name)
    return out


def profile_columns(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """(column, n_rows, n_null, n_distinct_est, min_value, max_value):
    one row per profiled column; min/max rendered as strings AFTER the
    native-typed aggregate (casting before would sort '9' > '10')."""
    from ..plans.driver_queries_sketch import hll_estimate, hll_registers_for

    cols = columns if columns is not None else _atomic_columns(df)
    if not cols:
        raise ValueError("no atomic columns to profile")

    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}")
        )
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
    one = df.agg(*aggs)

    per_col = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("__n").alias("n_rows"),
                        F.coalesce(F.col(f"__null_{c}"), F.lit(0)).alias(
                            "n_null"
                        ),
                        F.col(f"__min_{c}").alias("min_value"),
                        F.col(f"__max_{c}").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")

    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("source"),
                        F.col(c).cast("string").alias("term"),
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
    ).select("kv.source", "kv.term").where(F.col("term").isNotNull())
    est = hll_estimate(hll_registers_for(stacked)).select(
        F.col("source").alias("column"),
        F.col("est_distinct").alias("n_distinct_est"),
    )

    return per_col.join(est, "column", "left").select(
        "column",
        "n_rows",
        "n_null",
        F.coalesce("n_distinct_est", F.lit(0)).cast("long").alias(
            "n_distinct_est"
        ),
        "min_value",
        "max_value",
    )


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    from ..plans.driver_queries import _spread

    io = TableIO(spark)
    # small-file guard (the split-starvation hazard): both profiler
    # passes are CPU-heavy per row (11x explode + md5); a single-split
    # input would run them on one core.  _spread repartitions only when
    # the whole input is below one split - a no-op at real scale.
    df = _spread(io.read(args.input), args.input)
    if args.columns:
        requested = [c.strip() for c in args.columns.split(",") if c.strip()]
        missing = set(requested) - set(df.columns)
        if missing:
            raise ValueError(f"unknown columns: {sorted(missing)}")
        atomic = set(_atomic_columns(df))
        bad = set(requested) - atomic
        if bad:
            raise ValueError(f"non-atomic columns: {sorted(bad)}")
        cols = requested
    else:
        cols = _atomic_columns(df)

    profile = profile_columns(df, cols)
    io.overwrite(profile, args.output)  # re-runnable control output

    skipped = [c for c in df.columns if c not in set(cols)]
    written = io.read(args.output)
    n_rows = written.agg(F.max("n_rows")).collect()[0][0]
    return {
        "n_rows": int(n_rows or 0),
        "n_columns_profiled": len(cols),
        "skipped_columns": sorted(skipped),
    }


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="per-column table profiler")
    p.add_argument("--input", required=True, help="table/path to profile")
    p.add_argument("--output", required=True, help="profile table/path")
    p.add_argument(
        "--columns",
        default=None,
        help="comma list of columns (default: every atomic column)",
    )
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-profile-table", parse_args, run, argv)


if __name__ == "__main__":
    main()
