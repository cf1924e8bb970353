"""Streaming BPE tokenization — stream-static application of a learned
merge table to an unbounded document feed.

The last un-streamed step of the pipeline tail: documents arriving as
files are encoded with the merges train_bpe.py learned offline, each
doc landing in the output as (doc_id, tokens, n_tokens) — the form
tokenize_pack consumes.  This completes streaming coverage of the
export chain (dedup -> quality -> decontaminate -> tokenize).

Scale shape: the merge table is driver-side data (tiny — collected
once at stream start and baked into the plan, exactly as the batch
encoder does), so per-batch work is plans/bpe.encode_corpus's pure
per-row projection — zero shuffle, zero state, no watermark; every doc
is encoded in the micro-batch that delivers it.  The engine dispatch
(JVM fold vs Arrow-batched pandas for production-size merge lists) is
the batch encoder's, untouched.

Sink: ``_runner.write_batch``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.bpe import encode_corpus
from ._runner import to_batches
from .dedup_stream import DOCUMENTS_FLAT

__all__ = ["load_merges", "run_streaming_tokenize"]


def load_merges(spark: SparkSession, merges_path: str) -> list[tuple[str, str, int]]:
    """Rank-ordered merge list from a train_bpe.py output table."""
    return [
        (r["a"], r["b"], r["weight"])
        for r in spark.read.parquet(merges_path)
        .orderBy("merge_rank")
        .collect()
    ]


def run_streaming_tokenize(
    spark: SparkSession,
    input_path: str,
    merges_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    engine: str = "auto",
    available_now: bool = True,
):
    """Encode documents as files arrive; restarting from the checkpoint
    resumes at the first unprocessed file."""
    merges = load_merges(spark, merges_path)
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    return to_batches(
        stream,
        lambda batch_df: encode_corpus(batch_df, merges, engine=engine),
        output_path,
        stream_checkpoint,
        available_now,
    )
