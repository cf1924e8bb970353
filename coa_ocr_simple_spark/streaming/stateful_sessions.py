"""Custom stateful streaming operator — gap-based session assembly via
``applyInPandasWithState``.

The batch engine sessionizes with window functions
(plans/driver_queries_ext.q_sessionize_events); this is the *streaming*
equivalent for unbounded event feeds: per-user state carries the open
session across micro-batches, closed sessions are emitted as soon as a
gap larger than the session timeout is observed, and the still-open
session survives in the state store (checkpointed) for the next batch.

State shape (one row per user):
    session_start_epoch, last_epoch, n_events, value_sum_m, session_seq
Emitted rows are CLOSED sessions only (append semantics, immutable sink).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ._runner import to_parquet

SESSION_GAP_SECONDS = 30 * 60

OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", IntegerType()),
        StructField("start_epoch", LongType()),
        StructField("end_epoch", LongType()),
        StructField("n_events", LongType()),
        StructField("value_sum_m", LongType()),
    ]
)

STATE = StructType(
    [
        StructField("session_start", LongType()),
        StructField("last_epoch", LongType()),
        StructField("n_events", LongType()),
        StructField("value_sum_m", LongType()),
        StructField("session_seq", IntegerType()),
    ]
)


def _sessionize_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        session_start, last_epoch, n_events, value_sum_m, session_seq = state.get
    else:
        session_start = last_epoch = None
        n_events = value_sum_m = 0
        session_seq = 0

    closed = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["epoch", "event_id"])
        for epoch, value_m in zip(pdf["epoch"], pdf["value_m"]):
            epoch = int(epoch)
            if last_epoch is not None and epoch - last_epoch > SESSION_GAP_SECONDS:
                closed.append(
                    (user_id, session_seq, session_start, last_epoch, n_events, value_sum_m)
                )
                session_start, n_events, value_sum_m = epoch, 0, 0
                session_seq += 1
            if session_start is None:
                session_start = epoch
            last_epoch = epoch
            n_events += 1
            value_sum_m += int(value_m)

    state.update((session_start, last_epoch, n_events, value_sum_m, session_seq))
    if closed:
        yield pd.DataFrame(closed, columns=[f.name for f in OUTPUT.fields])


def run_stateful_sessions(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    schema = spark.read.parquet(input_path).schema
    events = (
        spark.readStream.schema(schema)
        .parquet(input_path)
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").cast("long").alias("epoch"),
            F.round(F.col("value") * 1000).cast("long").alias("value_m"),
        )
    )

    sessions = events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT,
        stateStructType=STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return to_parquet(sessions, output_path, stream_checkpoint, available_now)
