"""Streaming ANN index ingestion — the live twin of `ann_index add`.

An unbounded feed of new embedding rows is encoded against the STORED
quantizer (centroids + Lloyd codebook — never a retrain, FAISS's add()
contract) and appended to the index's codes table as it arrives: the
real-time side of a build-once / search-many vector index, where the
bulk build runs nightly and fresh vectors become searchable within a
micro-batch.

Scale shape: the quantizer frames are tiny and static (broadcast into
every batch); per-batch encoding is the same bounded
assignment-rank + per-(vec, subspace) codeword argmin the batch path
runs, entirely batch-local — no cross-batch state, no watermark.  Each
batch lands under ``<index>/codes_stream`` through
``_runner.write_batch``.  The ingest area is a SIBLING of the
bulk ``codes/`` table — mixing flat base files and ``batch=`` partition
dirs under one root breaks Spark's partition discovery — and a search
unions the two (``ingested_codes`` below); the `ann_index compact`
subcommand folds codes_stream into codes and clears it.

The file source delivers each vector exactly once; cross-FILE duplicate
vec_ids are the upstream contract, as in every other stream twin (the
batch `add` path enforces the anti-join where replays are possible).

Parity: tests/test_ann_ingest_stream.py pins stream-encoded rows
bit-identical to the batch encode_frames on the same vectors, restart
incrementality, and that ingested vectors are immediately searchable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from ..plans.ann_index import encode_frames, quantized
from ..sources.tables import path_exists
from ._runner import to_batches

__all__ = [
    "EMBEDDINGS_FLAT",
    "ingested_codes",
    "run_streaming_ann_ingest",
]

EMBEDDINGS_FLAT = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def ingested_codes(spark: SparkSession, index_path: str) -> DataFrame:
    """Base + stream-ingested code rows, ready for search_index_frames.
    The batch partition column is dropped — search does not care which
    micro-batch a vector arrived in."""
    base = spark.read.parquet(f"{index_path}/codes")
    stream_dir = f"{index_path}/codes_stream"
    if not path_exists(spark, stream_dir):
        return base
    return base.unionByName(spark.read.parquet(stream_dir).select(*base.columns))


def run_streaming_ann_ingest(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Encode arriving embedding files with the stored quantizer and
    land their packed code rows under ``<index>/codes_stream/batch=<id>``.
    Restarting from the checkpoint resumes at the first unprocessed
    file."""
    from ..jobs.ann_index import _coarse_kind

    centroids = spark.read.parquet(f"{index_path}/centroids")
    codebook = spark.read.parquet(f"{index_path}/codebook")
    coarse = _coarse_kind(spark, index_path)
    stream = spark.readStream.schema(EMBEDDINGS_FLAT).parquet(input_path)

    return to_batches(
        stream,
        lambda batch_df: encode_frames(
            quantized(batch_df), centroids, codebook, coarse=coarse
        ),
        f"{index_path}/codes_stream",
        stream_checkpoint,
        available_now,
    )
