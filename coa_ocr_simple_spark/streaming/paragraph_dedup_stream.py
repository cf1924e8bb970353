"""Streaming corpus-level paragraph deduplication — the
continuous-ingest twin of plans/driver_queries_mix.paragraph_dedup
(CCNet-style: one surviving occurrence per distinct normalized
paragraph, corpus-wide).

Each arriving document explodes into its non-empty paragraphs with
normalized-content md5s (paragraph_occurrences — stateless per-row
ops, the same derivation the batch query uses), and ``dropDuplicates``
on the paragraph hash emits only the FIRST occurrence ever seen: the
state store holds one 32-hex key per distinct paragraph and is
checkpointed, so a restarted job keeps suppressing paragraphs it
already emitted — the batch operator's "canonical occurrence" with
arrival order standing in for the (doc_id, pos) lexicographic
tie-break.

The output (doc_id, pos, line, h) is the deduplicated paragraph stream
a downstream reassembler consumes (order a doc's surviving paragraphs
by pos, join with newlines).  Where unbounded state is too large, the
production variant bounds the horizon with ``withWatermark +
dropDuplicates([h, window])`` — the same trade dedup_stream.py
documents.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.driver_queries_mix import paragraph_occurrences
from ._runner import to_parquet
from .dedup_stream import DOCUMENTS_FLAT


def run_streaming_paragraph_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Emit each distinct normalized paragraph exactly once across all
    micro-batches and restarts; returns after draining when
    available_now=True."""
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    survivors = paragraph_occurrences(stream).dropDuplicates(["h"])
    return to_parquet(survivors, output_path, stream_checkpoint, available_now)
