"""The one place a streaming twin starts its query and writes a batch.

``start`` owns the checkpoint, the ``availableNow`` trigger and the
wait: ``available_now=True`` drains every file present and returns the
finished query (test/bench mode); ``False`` returns the running query.

``write_batch`` is the per-batch sink of every ``foreachBatch`` twin.
``foreachBatch`` is at-least-once: a crash between the sink write and
the checkpoint commit replays the SAME batch id on restart.  Each batch
therefore OVERWRITES its own ``root/batch=<id>`` subdirectory, so a
replay replaces its rows instead of duplicating them; readers scan
``root`` as-is and see the subdirectories as a ``batch`` partition
column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def start(
    writer: DataStreamWriter, stream_checkpoint: str, available_now: bool
) -> StreamingQuery:
    writer = writer.option("checkpointLocation", stream_checkpoint)
    if not available_now:
        return writer.start()
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def to_parquet(
    frame: DataFrame, output_path: str, stream_checkpoint: str, available_now: bool
) -> StreamingQuery:
    """Append ``frame``'s rows to a parquet file sink (exactly-once via
    the sink's ``_spark_metadata`` log and the source checkpoint)."""
    writer = frame.writeStream.format("parquet").option("path", output_path)
    return start(writer.outputMode("append"), stream_checkpoint, available_now)


def write_batch(df: DataFrame, root: str, batch_id: int) -> None:
    df.write.mode("overwrite").parquet(f"{root}/batch={int(batch_id)}")


def to_batches(
    stream: DataFrame,
    per_batch: Callable[[DataFrame], DataFrame],
    root: str,
    stream_checkpoint: str,
    available_now: bool,
) -> StreamingQuery:
    """Write ``per_batch(batch)`` of every micro-batch with ``write_batch``."""

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(per_batch(batch_df), root, batch_id)

    writer = stream.writeStream.foreachBatch(_emit)
    return start(writer, stream_checkpoint, available_now)
