"""spark-submit entry point for exact n-gram decontamination of a train
corpus against an eval/benchmark set — the production two-input shape.

The registered ``gram_decontamination`` driver query demonstrates the
operator on a single table with a doc_id%10 stand-in split; this job
takes the two REAL tables a corpus build has:

    python -m coa_ocr_simple_spark.jobs.decontaminate \\
        --train /path/corpus.parquet --eval /path/benchmarks.parquet \\
        --report /path/flagged [--clean-output /path/cleaned] \\
        [--min-grams 1]

and flags TRAIN documents that leak eval content (the GPT-3 appendix-C
rule: any shared 13-token gram).  The report is per train doc
(train_doc_id, n_overlap_grams, n_eval_docs); --clean-output
additionally writes the corpus minus the flagged docs (doc_id
anti-join — payload bytes move once).

Scale shape: one explode + md5 per side (32-hex gram hashes on the
wire, ~3x smaller than gram text), equi-join on the gram hash, the
same hot-gram guard as the driver query (a boilerplate gram in more
than _MAX_GRAM_TRAIN_DOCS train docs is excluded — it is boilerplate,
not leakage, and it would explode a single join key).  At 100 TB the
eval side is tiny and AQE broadcasts it; the train-gram derivation
feeds both the guard aggregate and the join, so it is persisted with
an eager fill (no cross-branch CSE).
"""

from __future__ import annotations

import argparse

from pyspark import StorageLevel
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_quality import (
    _DECON_N,
    _MAX_GRAM_TRAIN_DOCS,
    _token_grams,
)
from ..sources.tables import TableIO
from . import _cli


def decontaminate_report(train, ev, n: int = _DECON_N, min_grams: int = 1):
    """(train_doc_id, n_overlap_grams, n_eval_docs) for every train doc
    sharing >= min_grams exact n-token grams with any eval doc."""
    tg = _token_grams(train, n).persist(StorageLevel.MEMORY_AND_DISK)
    tg.count()  # eager fill: the guard aggregate and the join both consume it
    eg = _token_grams(ev, n).select(F.col("doc_id").alias("eval_doc_id"), "g")
    ok_grams = (
        tg.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("_g_n"))
        .where(F.col("_g_n") <= _MAX_GRAM_TRAIN_DOCS)
        .select("g")
    )
    bounded = tg.join(ok_grams, "g", "left_semi")
    return (
        bounded.join(eg, "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_overlap_grams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
        .where(F.col("n_overlap_grams") >= min_grams)
        .select(
            F.col("doc_id").alias("train_doc_id"),
            "n_overlap_grams",
            "n_eval_docs",
        )
    )


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    train = io.read(args.train)
    ev = io.read(args.eval)

    report = decontaminate_report(
        train, ev, n=args.n, min_grams=args.min_grams
    ).persist()
    n_flagged = report.count()  # also the eager fill for report/clean writes
    # overwrite: a re-run replaces the previous report rather than
    # duplicating its rows in a path-based parquet directory
    io.overwrite(report, args.report)

    summary = {
        "n_train": train.count(),
        "n_eval": ev.count(),
        "n_flagged": n_flagged,
        "n": args.n,
        "min_grams": args.min_grams,
    }
    if args.clean_output:
        flagged_ids = report.select(F.col("train_doc_id").alias("doc_id"))
        cleaned = train.join(flagged_ids, "doc_id", "left_anti")
        io.overwrite(cleaned, args.clean_output)
        summary["n_clean"] = summary["n_train"] - n_flagged
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="exact n-gram train/eval decontamination (two-input)"
    )
    p.add_argument("--train", required=True, help="train corpus table/path")
    p.add_argument("--eval", required=True, help="eval/benchmark table/path")
    p.add_argument("--report", required=True, help="flagged-docs table/path")
    p.add_argument(
        "--clean-output",
        default=None,
        help="optionally write train minus flagged docs here",
    )
    p.add_argument("--n", type=int, default=_DECON_N)
    p.add_argument(
        "--min-grams",
        type=int,
        default=1,
        help="flag a train doc only at >= this many distinct shared grams",
    )
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-decontaminate", parse_args, run, argv)


if __name__ == "__main__":
    main()
