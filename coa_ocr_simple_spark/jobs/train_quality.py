"""spark-submit entry point for training the Naive-Bayes quality
classifier — writes the model ARTIFACT (bucket -> llr bits + calibrated
threshold, plans/driver_queries_quality.nb_model) that both the batch
scorer (nb_score) and the streaming ingest gate
(streaming/nb_quality_stream.py) consume.

    python -m coa_ocr_simple_spark.jobs.train_quality \\
        --input /path/documents.parquet --model /path/nb_model \\
        [--scores /path/verdicts] [--train-mod 2]

Labels are distilled from the Gopher composite verdict on the
doc_id % 10 == --train-mod held-in slice (the curate --nb-quality
construction): the expensive many-signal heuristic runs once on a
sample, the cheap model scores everything after.  The summary echoes
the label split so a one-class degenerate slice (threshold falls back
to 0, verdicts skew positive) is visible at train time, not at score
time.

Scale shape: training touches only the held-in slice; the model is a
complete <= 4096-row table (every feature bucket materialized), written
with overwrite semantics — re-running replaces the artifact.  With
--scores the whole corpus is scored through one broadcast join
(nb_score) and verdicts land as a control table.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_quality import (
    _NB_TRAIN_MOD,
    gopher_labels,
    nb_model,
    nb_score,
)
from ..sources.tables import TableIO
from . import _cli


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    docs = io.read(args.input)
    train = docs.where(F.col("doc_id") % 10 == args.train_mod)
    lab = gopher_labels(train)
    split = lab.agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_pos").alias("n_pos")
    ).collect()[0]

    model = nb_model(train, lab)
    io.overwrite(model, args.model)
    written = io.read(args.model)
    summary = {
        "n_train": int(split["n"]),
        "n_train_pos": int(split["n_pos"] or 0),
        "n_train_neg": int(split["n"]) - int(split["n_pos"] or 0),
        "n_model_buckets": written.count(),
        "thr2": int(written.agg(F.max("thr2")).collect()[0][0]),
        "train_mod": args.train_mod,
    }

    if args.scores:
        verdicts = nb_score(docs, written)
        io.overwrite(verdicts, args.scores)
        agg = io.read(args.scores).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_quality").cast("long")).alias("q"),
        ).collect()[0]
        summary["n_scored"] = int(agg["n"])
        summary["n_quality"] = int(agg["q"] or 0)
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="train the NB quality-classifier model artifact"
    )
    p.add_argument("--input", required=True, help="documents table/path")
    p.add_argument("--model", required=True, help="model artifact table/path")
    p.add_argument(
        "--scores",
        default=None,
        help="also score the whole corpus and write the verdict table",
    )
    p.add_argument(
        "--train-mod",
        type=int,
        default=_NB_TRAIN_MOD,
        help="held-in labeled slice is doc_id %% 10 == this "
        f"(default {_NB_TRAIN_MOD}, the curate/profile convention)",
    )
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-train-quality", parse_args, run, argv)


if __name__ == "__main__":
    main()
