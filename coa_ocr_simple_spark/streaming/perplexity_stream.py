"""Streaming CCNet-style perplexity scoring — stream-static join variant
of plans/driver_queries_quality.lm_perplexity.

An unbounded feed of documents is scored against a static, pre-computed
bigram-LM count table trained on a clean reference corpus; each doc
gets its integer bits/bigram and fluency verdict as it arrives — the
ingest-time quality gate of a live corpus build.

Scale shape: identical to decontaminate_stream — the static count table
is the big side (reference-corpus vocab), the per-batch stream side is
small; the join keys are the bigram words, so the static table can be
bucketed by (a, b) at write time.  The per-doc rollup is batch-local
inside ``foreachBatch`` (the file source delivers each doc in exactly
one micro-batch), so no cross-batch state and no watermark; sink:
``_runner.write_batch``.

One semantics, two drivers: ``lm_score`` is the same expression the
oracle-checked batch query runs; the streaming tests verify incremental
delivery (per-batch scoring, restart continuation) and batch agreement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.driver_queries_quality import lm_score, lm_train_counts
from ._runner import to_batches
from .dedup_stream import DOCUMENTS_FLAT

__all__ = [
    "lm_train_counts",
    "score_batch",
    "run_streaming_perplexity",
]


def score_batch(batch_docs: DataFrame, static_counts: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, total_bits, mille_bits, is_fluent) for one
    micro-batch against the static (a, b, c_pair, c_ctx) count table —
    the exact batch formula (lm_score) as a SINGLE dimension join (the
    denormalized table carries c_ctx on the pair row)."""
    return lm_score(batch_docs, static_counts)


def run_streaming_perplexity(
    spark: SparkSession,
    input_path: str,
    counts_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Score documents as files arrive; every doc lands in
    ``output_path`` with its bits and fluency verdict.  Restarting from
    the checkpoint resumes at the first unprocessed file."""
    static_counts = spark.read.parquet(counts_path)
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    return to_batches(
        stream,
        lambda batch_df: score_batch(batch_df, static_counts),
        output_path,
        stream_checkpoint,
        available_now,
    )
