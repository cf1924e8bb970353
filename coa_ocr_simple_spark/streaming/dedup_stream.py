"""Streaming exact deduplication — the continuous-ingest twin of
plans/driver_queries.q_dedup_exact (md5 content-hash, first wins).

For a training-data pipeline ingesting an unbounded document feed, the
dedup decision must survive micro-batch boundaries AND job restarts:
``dropDuplicates`` on the content hash keeps its seen-set in the
streaming state store, which is checkpointed — a restarted job continues
suppressing duplicates of everything it ever emitted.

Operational note (observed): resetting the stream checkpoint WITHOUT
resetting the output directory silently no-ops — the parquet sink's
``_spark_metadata`` log already records batch 0, so the fresh run's
batches look committed.  Reset both together or neither.

State-size note for 10^12 docs: the state is one 32-hex key per DISTINCT
document (the md5, not the text).  Where even that is too large, the
production variant bounds state with a watermark on ingest time
(``withWatermark + dropDuplicates([hash, window])``) accepting duplicates
farther apart than the horizon — same trade the batch MinHash pipeline
makes explicit with its bucket cap.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ._runner import to_parquet

DOCUMENTS_FLAT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def run_streaming_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Emit each distinct text exactly once across all micro-batches and
    restarts; returns after draining when available_now=True."""
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    deduped = (
        stream.withColumn("content_hash", F.md5(F.col("text")))
        .dropDuplicates(["content_hash"])
        .select("doc_id", "content_hash", "n_chars")
    )
    return to_parquet(deduped, output_path, stream_checkpoint, available_now)
