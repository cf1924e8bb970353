"""spark-submit entry point for cluster-balanced (topic-diversity)
corpus sampling: cap every trained-k-means embedding cluster at a
fixed quota so no template family / topic blob dominates the curated
sample — the embedding-space complement of per-source quota sampling.

    python -m coa_ocr_simple_spark.jobs.cluster_sample \\
        --embeddings /path/embeddings.parquet --sample /path/sample \\
        [--quota 15] \\
        [--documents /path/documents.parquet --output /path/sampled_docs]

The sample table is the small control output (vec_id, centroid_id,
sample_rank); with --documents the doc payload rows whose doc_id
matches a sampled vec_id are ALSO written (one semi-join — payload
text moves once, at the write).

Scale shape (10^12 vectors): the Lloyd-trained centroid table is tiny
and broadcasts everywhere; assignment is one broadcast crossJoin with
a |C|-bounded window; the per-cluster ranking window is bounded in the
PLAN by the md5-prefix mega-cluster guard (~16x the quota per key even
if the clustering degenerates to one cluster).  All math exact
integers — oracle-checked as the ``cluster_quota_sample`` extra query.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.ann_index import quantized
from ..plans.driver_queries_ext import cluster_quota_sample
from ..sources.tables import TableIO
from . import _cli


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    emb = quantized(io.read(args.embeddings)).persist()
    n_vectors = emb.count()  # seeds, Lloyd and assignment all consume it

    sample = cluster_quota_sample(emb, quota=args.quota).persist()
    io.overwrite(sample, args.sample)  # control output: re-runnable

    roll = sample.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.countDistinct("centroid_id").alias("n_clusters"),
        F.max("sample_rank").alias("max_rank"),
    ).collect()[0]
    summary = {
        "n_vectors": int(n_vectors),
        "n_sampled": int(roll["n_sampled"]),
        "n_clusters": int(roll["n_clusters"]),
        "quota": args.quota,
    }
    assert roll["max_rank"] <= args.quota

    if args.documents:
        if not args.output:
            raise ValueError("--documents requires --output")
        docs = io.read(args.documents)
        picked = sample.select(F.col("vec_id").alias("doc_id"))
        io.overwrite(docs.join(picked, "doc_id", "left_semi"), args.output)
        summary["n_docs_out"] = int(
            spark.read.parquet(args.output).count()
        )
    sample.unpersist()
    emb.unpersist()
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="cluster-balanced sampling")
    p.add_argument("--embeddings", required=True)
    p.add_argument("--sample", required=True, help="control table/path")
    p.add_argument("--quota", type=int, default=15)
    p.add_argument(
        "--documents",
        default=None,
        help="optional doc table; payload rows for sampled vec_ids "
        "(doc_id == vec_id) are written to --output",
    )
    p.add_argument("--output", default=None)
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-cluster-sample", parse_args, run, argv)


if __name__ == "__main__":
    main()
