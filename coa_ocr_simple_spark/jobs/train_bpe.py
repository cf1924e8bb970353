"""spark-submit entry point for distributed BPE tokenizer training.

    python -m coa_ocr_simple_spark.jobs.train_bpe \\
        --input /path/corpus.parquet --output /path/merges \\
        [--n-merges 64] [--min-pair-weight 2] \\
        [--encode-output /path/encoded]

Learns the merge table from the corpus (one corpus-wide word-count
shuffle, then per-round vocab-table aggregates — see plans/bpe.py) and
writes it as a parquet table (merge_rank, a, b, weight) a tokenizer
loads in rank order.  The summary echoes the first merges so a dry run
is inspectable.

--encode-output closes the loop: the learned merges are applied back to
the whole corpus (plans/bpe.encode_corpus — fold engine up to 64
merges, Arrow-batched Python above) and (doc_id, tokens, n_tokens) is
written for the packing/export stages.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from ..plans.bpe import train_bpe
from ..sources.tables import TableIO
from . import _cli


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    docs = io.read(args.input)
    merges = train_bpe(
        docs, args.n_merges, min_pair_weight=args.min_pair_weight
    )
    table = spark.createDataFrame(
        [
            (rank, a, b, weight)
            for rank, (a, b, weight) in enumerate(merges)
        ],
        "merge_rank long, a string, b string, weight long",
    )
    io.append(table, args.output)
    summary = {
        "n_merges_learned": len(merges),
        "n_merges_requested": args.n_merges,
        "first_merges": [f"{a}+{b}:{w}" for a, b, w in merges[:5]],
    }
    if args.encode_output:
        from ..plans.bpe import encode_corpus

        encoded = encode_corpus(docs, merges)
        io.overwrite(encoded, args.encode_output)
        # count from the written files — counting the plan would run the
        # encode a second time
        summary["n_docs_encoded"] = io.read(args.encode_output).count()
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="distributed BPE training")
    p.add_argument("--input", required=True, help="corpus table/path")
    p.add_argument("--output", required=True, help="merge-table output path")
    p.add_argument("--n-merges", type=int, default=64)
    p.add_argument(
        "--min-pair-weight",
        type=int,
        default=2,
        help="stop when the best pair's corpus weight falls below this",
    )
    p.add_argument(
        "--encode-output",
        default=None,
        help="also apply the learned merges to the corpus and write "
        "(doc_id, tokens, n_tokens) here",
    )
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-train-bpe", parse_args, run, argv)


if __name__ == "__main__":
    main()
