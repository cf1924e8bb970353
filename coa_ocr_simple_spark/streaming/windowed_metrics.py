"""Windowed streaming aggregation with late-data watermarking.

Net-new surface (the reference is request/response only — SURVEY.md §2.9):
continuous per-event-type metrics over the events stream, the canonical
Structured-Streaming shape for the engine's checkpoint/metrics tables:

    readStream -> withWatermark(ts) -> groupBy(window(ts), event_type)
               -> append-mode parquet sink

Append mode emits a window only once its end passes the watermark, so the
sink is immutable rows (Iceberg/Parquet friendly) and late events within
the allowed lateness still count.  ``available_now=True`` drains existing
files and stops (test mode); windows newer than (max event time -
watermark) stay pending for the next incremental run — exactly the
resume-safe behavior a long-lived metrics job needs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ._runner import to_parquet


def run_windowed_event_counts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    schema = spark.read.parquet(input_path).schema
    events = spark.readStream.schema(schema).parquet(input_path)
    # watermarking requires TIMESTAMP (ltz); the table stores TIMESTAMP_NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))

    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_sum_m"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum_m",
            "approx_users",
        )
    )
    return to_parquet(agg, output_path, stream_checkpoint, available_now)
