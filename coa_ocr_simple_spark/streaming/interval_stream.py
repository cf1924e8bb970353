"""Streaming point-in-interval counting — the incremental twin of the
batch bucketized range join (plans/driver_queries_ext.
interval_event_counts): a STATIC table of anchor windows (incident /
campaign / maintenance intervals) is scored continuously against an
unbounded event feed.

Per micro-batch the same bucket trick turns the range predicate into a
broadcast hash EQUI-join (never a nested loop): anchors pre-explode
into the <= 2 time buckets they overlap, arriving events bucket once,
and the exact BETWEEN re-check runs as a post-filter.  Each batch then
reduces to a per-anchor (n_events, sum_value_mille) partial — additive,
so the running totals are a _sum_state sketch like the Count-Min grid
and the quantile histogram: batch==stream sum-merge exactness, replay
safety from ``_runner.write_batch``, compaction that keeps
the highest batch id live.

The one semantic difference from the batch query: anchors here are an
EXTERNAL table (the production shape), so there is no self-exclusion —
an anchor that is also an event counts itself if it falls in its own
window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_ext import _IVAL_BUCKET_US, _epoch_us_ntz
from ._runner import to_batches
from ._sum_state import compact_state, merged_state

_VALUES = ["n_events", "sum_value_mille"]


def interval_batch_counts(events: DataFrame, anchors: DataFrame) -> DataFrame:
    """(anchor_id, n_events, sum_value_mille) for ONE event set against
    (anchor_id, lo, hi) microsecond windows no wider than
    _IVAL_BUCKET_US.  Anchors with no hit emit nothing here — zeros are
    materialized at read time (interval_counts_state), not stored."""
    b = _IVAL_BUCKET_US
    abkt = anchors.select(
        "anchor_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(F.expr(f"lo DIV {b}"), F.expr(f"hi DIV {b}"))
        ).alias("bkt"),
    )
    ev = events.select(
        _epoch_us_ntz("ts").alias("us"),
        F.round(F.col("value") * 1000).cast("long").alias("vm"),
    ).withColumn("bkt", F.expr(f"us DIV {b}"))
    return (
        F.broadcast(abkt)
        .join(ev, "bkt")
        .where(F.col("us").between(F.col("lo"), F.col("hi")))
        .groupBy("anchor_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("vm").cast("long").alias("sum_value_mille"),
        )
    )


def interval_counts_state(
    spark: SparkSession, state_path: str, anchors: DataFrame
) -> DataFrame:
    """(anchor_id, n_events, sum_value_mille): running totals over every
    event streamed so far, one row per anchor (zero rows included)."""
    merged = merged_state(spark, state_path, ["anchor_id"], _VALUES)
    return (
        anchors.select("anchor_id")
        .distinct()
        .join(merged, "anchor_id", "left")
        .select(
            "anchor_id",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("sum_value_mille", F.lit(0)).cast("long").alias(
                "sum_value_mille"
            ),
        )
    )


def compact_interval_state(spark: SparkSession, state_path: str) -> None:
    compact_state(spark, state_path, ["anchor_id"], _VALUES)


def run_streaming_interval_counts(
    spark: SparkSession,
    events_path: str,
    anchors_path: str,
    state_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Score the static anchor-window table against arriving event
    files; read the running totals any time with
    :func:`interval_counts_state`."""
    anchors = spark.read.parquet(anchors_path)
    too_wide = (
        anchors.where(F.col("hi") - F.col("lo") > _IVAL_BUCKET_US)
        .limit(1)
        .count()
    )
    if too_wide:
        raise ValueError(
            f"anchor window wider than the bucket ({_IVAL_BUCKET_US} us): "
            "the <=2-buckets-per-interval invariant would break"
        )
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    return to_batches(
        stream,
        lambda batch_df: interval_batch_counts(batch_df, anchors),
        state_path,
        stream_checkpoint,
        available_now,
    )
