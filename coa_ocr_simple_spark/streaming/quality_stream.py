"""Streaming quality tagging — the ingest-time form of the corpus
quality signals:

- ``run_streaming_gopher`` is a PURE row transform (the join-free
  rowwise Gopher form ``gopher_quality_signals`` dispatches to on a
  streaming frame) writing straight to a parquet append sink — no
  foreachBatch, no state, no watermark: the cheapest possible
  ingest-time tagger, resumable from its checkpoint.
- ``run_streaming_quality`` emits the combined Gopher + C4 attribute
  row per doc via ``foreachBatch`` (the two signal frames join
  batch-locally — each doc arrives in exactly one micro-batch under
  the file source) into ``_runner.write_batch``.

Semantics are the oracle-checked batch queries' own expressions —
``gopher_quality_signals`` (rowwise form parity-pinned by
tests/test_gopher_quality_signals.py) and ``c4_line_clean``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_quality import (
    c4_line_clean,
    char_entropy_stats,
    gopher_quality_signals,
)
from ._runner import to_batches, to_parquet
from .dedup_stream import DOCUMENTS_FLAT

__all__ = [
    "quality_batch",
    "run_streaming_gopher",
    "run_streaming_quality",
]


def quality_batch(batch_docs: DataFrame) -> DataFrame:
    """Combined per-doc attribute row for one micro-batch: Gopher
    signals + C4 line/page stats (c4_-prefixed; text_clean kept — the
    streaming consumer is an ingest pipeline that wants the cleaned
    payload, not just the verdict) + the character-entropy gibberish
    gate (ent_-prefixed)."""
    gq = gopher_quality_signals(batch_docs)
    c4 = c4_line_clean(batch_docs).select(
        "doc_id",
        F.col("n_kept").alias("c4_n_kept"),
        F.col("is_dropped").alias("c4_is_dropped"),
        F.col("text_clean").alias("c4_text_clean"),
    )
    ent = char_entropy_stats(batch_docs).select(
        "doc_id",
        F.col("ent_nbits").alias("ent_nbits"),
        F.col("is_low_entropy").alias("ent_is_low_entropy"),
    )
    return gq.join(c4, "doc_id").join(ent, "doc_id")


def run_streaming_gopher(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Stateless select-only pipeline: stream -> rowwise Gopher signal
    projection -> parquet append sink.  Exactly-once via the sink's
    _spark_metadata commit log + source checkpoint."""
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    return to_parquet(
        gopher_quality_signals(stream), output_path, stream_checkpoint, available_now
    )


def run_streaming_quality(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Combined Gopher + C4 tagging as files arrive."""
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    return to_batches(
        stream, quality_batch, output_path, stream_checkpoint, available_now
    )
