"""Streaming token-block deduplication — the continuous-ingest twin of
plans/driver_queries_mix.block_dedup_stats (ExactSubstr-style: one
surviving occurrence per distinct _BLOCK_W-token block, corpus-wide).

Each arriving document explodes into its full-block md5s
(block_occurrences — stateless per-row ops, the same derivation the
batch query uses), and ``dropDuplicates`` on the block hash emits only
the FIRST occurrence ever seen: the state store holds one 32-hex key
per distinct block and is checkpointed, so a restarted job keeps
suppressing blocks it already emitted — exactly the batch operator's
"canonical occurrence" with arrival order standing in for the
(doc_id, block_idx) lexicographic tie-break.

The output (doc_id, block_idx, bh) is the deduplicated block stream a
downstream reassembler consumes (keep a doc's surviving blocks, cut the
rest).  State is ~1/20th of the exact-doc-dedup variant per unit text
(one key per 20 tokens vs one per document — but blocks outnumber
docs); where even that is too large, the production variant bounds the
horizon with ``withWatermark + dropDuplicates([bh, window])``, the same
trade dedup_stream.py documents.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.driver_queries_mix import block_occurrences
from ._runner import to_parquet
from .dedup_stream import DOCUMENTS_FLAT


def run_streaming_block_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Emit each distinct token block exactly once across all
    micro-batches and restarts; returns after draining when
    available_now=True."""
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    survivors = block_occurrences(stream).dropDuplicates(["bh"])
    return to_parquet(survivors, output_path, stream_checkpoint, available_now)
