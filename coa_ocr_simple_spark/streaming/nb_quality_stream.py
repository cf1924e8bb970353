"""Streaming Naive-Bayes quality scoring — stream-static join variant
of plans/driver_queries_quality.nb_classifier_verdicts.

An unbounded feed of documents is scored against a static, pre-trained
classifier model table (nb_model: bucket -> llr bits + calibrated
threshold, trained offline on a labeled reference slice); each doc gets
its llr and quality verdict as it arrives — the ingest-time
model-based quality gate of a live corpus build (the classifier twin of
perplexity_stream, completing the streaming forms of all four quality
families: heuristic/C4 in quality_stream, LM in perplexity_stream,
model-based here; DSIR is corpus-relative by definition and has no
per-doc streaming form).

Scale shape: the static model is tiny and COMPLETE over the bucket
domain (<= 4096 rows — broadcast), so per-batch scoring is one gram
explode -> broadcast inner equi-join -> batch-local per-doc rollup
inside ``foreachBatch`` (the file source delivers each doc in exactly
one micro-batch), no cross-batch state, no watermark; sink:
``_runner.write_batch``.

One semantics, two drivers: ``nb_score`` is the same expression the
oracle-checked batch query runs; the streaming tests verify incremental
delivery, restart continuation and batch agreement.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.driver_queries_quality import nb_model, nb_score
from ._runner import to_batches
from .dedup_stream import DOCUMENTS_FLAT

__all__ = [
    "nb_model",
    "nb_score",
    "run_streaming_nb_quality",
]


def run_streaming_nb_quality(
    spark: SparkSession,
    input_path: str,
    model_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Score documents as files arrive; every doc lands in
    ``output_path`` with its llr and quality verdict.  Restarting from
    the checkpoint resumes at the first unprocessed file."""
    model = spark.read.parquet(model_path)
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    return to_batches(
        stream,
        lambda batch_df: nb_score(batch_df, model),
        output_path,
        stream_checkpoint,
        available_now,
    )
