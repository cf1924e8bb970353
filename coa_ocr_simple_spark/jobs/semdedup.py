"""spark-submit entry point for SemDeDup semantic pruning of an
embedding table (Abbas et al. 2023): cluster the embedding space on
deterministic coarse centroids, compare pairs only within a cluster,
and among semantic duplicates keep the member FARTHEST from its
centroid (the keep-the-outlier policy).

    python -m coa_ocr_simple_spark.jobs.semdedup \\
        --input /path/embeddings.parquet --verdicts /path/verdicts \\
        [--pruned /path/pruned_embeddings]

The verdicts table is the small control output (vec_id, centroid_id,
n_similar, is_semdup_dropped) a curation pipeline joins against its
document table; --pruned additionally writes the surviving embedding
rows (vec_id anti-join — payload vectors move once, at the write).

Scale shape (10^12 vectors): the centroid set broadcasts for the
assignment argmax; everything after is equi-joins/aggs on centroid_id
or vec_id (co-partitioned, never all-pairs), with in-cluster pair
fan-out bounded by the hot-cluster cap.  All math is exact integers —
see plans/driver_queries_dedup.semdedup_prune (oracle-checked as the
``semdedup_prune`` extra query).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_dedup import semdedup_prune
from ..sources.tables import TableIO
from . import _cli


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    emb = io.read(args.input)

    verdicts = semdedup_prune(emb).persist()
    # overwrite: control outputs are re-runnable (stale rows from a
    # previous run must not accumulate under a path-based table)
    io.overwrite(verdicts, args.verdicts)

    roll = verdicts.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("is_semdup_dropped").alias("n_dropped"),
        F.sum((F.col("n_similar") > 0).cast("long")).alias("n_with_dups"),
        F.countDistinct("centroid_id").alias("n_clusters"),
    ).collect()[0]
    summary = {
        "n_vectors": int(roll["n_vectors"]),
        "n_dropped": int(roll["n_dropped"] or 0),
        "n_with_duplicates": int(roll["n_with_dups"] or 0),
        "n_clusters": int(roll["n_clusters"]),
    }

    if args.pruned:
        dropped = verdicts.where(F.col("is_semdup_dropped") == 1).select(
            "vec_id"
        )
        io.overwrite(emb.join(dropped, "vec_id", "left_anti"), args.pruned)
        summary["n_pruned_rows"] = summary["n_vectors"] - summary["n_dropped"]
    verdicts.unpersist()
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="SemDeDup embedding pruning")
    p.add_argument("--input", required=True, help="embeddings table/path")
    p.add_argument("--verdicts", required=True, help="verdict table/path")
    p.add_argument(
        "--pruned",
        default=None,
        help="optional surviving-embeddings table/path (payload anti-join)",
    )
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-semdedup", parse_args, run, argv)


if __name__ == "__main__":
    main()
