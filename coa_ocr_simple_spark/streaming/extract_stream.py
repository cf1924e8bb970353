"""Structured-Streaming front-end for the extraction pipeline.

The reference has no streaming surface (request/response only —
SURVEY.md §2.9), and the north_rule targets batch at 10^12 docs with
checkpoint-resume.  This module is the net-new continuous-ingest variant:
new document files landing in the input location are picked up
incrementally and run through the *identical* batch plan via
``foreachBatch`` — one implementation of the semantics, two drivers.

Spark's streaming checkpoint (source offsets) composes with the engine's
own doc_id-level resume: a reprocessed micro-batch (at-least-once file
source) is deduplicated by the anti-join against the sink, giving
effectively-once output.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from ..functions.schemas import DOCUMENTS
from ..plans.extract_plan import ExtractOptions, build_extract_plan
from ..sources.tables import TableIO
from ._runner import start


def run_streaming_extract(
    spark: SparkSession,
    input_path: str,
    media_path: str | None,
    output_path: str,
    stream_checkpoint: str,
    *,
    options: ExtractOptions | None = None,
    available_now: bool = True,
):
    """Incrementally extract documents as files arrive under input_path.

    available_now=True drains everything currently present and stops
    (test/bench mode); False runs continuously.
    """
    io = TableIO(spark)
    media = io.read_if_exists(media_path) if media_path else None
    opts = options or ExtractOptions()

    stream = spark.readStream.schema(DOCUMENTS).parquet(input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        done = io.read(output_path, "doc_id string") if io.exists(output_path) else None
        results = build_extract_plan(
            batch_df,
            media,
            options=replace(opts, run_id=f"{opts.run_id}-b{batch_id}"),
            done=done,
        )
        io.append(results, output_path)

    return start(
        stream.writeStream.foreachBatch(process_batch),
        stream_checkpoint,
        available_now,
    )
