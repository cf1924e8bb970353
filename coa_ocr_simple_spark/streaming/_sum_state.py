"""Shared sum-merged sketch state for streaming twins whose cross-batch
state is an additive partial table (Count-Min grids, value histograms):
partials written by ``_runner.write_batch`` + a replay-aware compactor.

Because + is NOT idempotent (unlike HLL's max), replay safety rests on
two rules every consumer of this module inherits:

1. a replayed batch OVERWRITES its own ``batch=<id>`` subdirectory —
   never appends (``_runner.write_batch``);
2. compaction folds every partial EXCEPT the highest batch id — the
   only batch a checkpoint-resumed stream may re-deliver; folding it
   would turn that replay into a double count (compact_state).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import commit


def _sum_aggs(value):
    values = [value] if isinstance(value, str) else list(value)
    return [F.sum(v).cast("long").alias(v) for v in values]


def merged_state(
    spark: SparkSession, state_path: str, keys: list[str], value
) -> DataFrame:
    """The sum-merge of every partial written so far.  ``value`` is one
    column name or a list of additive columns."""
    return (
        spark.read.parquet(state_path).groupBy(*keys).agg(*_sum_aggs(value))
    )


def compact_state(
    spark: SparkSession, state_path: str, keys: list[str], value
) -> None:
    """Fold per-batch partials into a single ``batch=-1`` partial —
    EXCEPT the highest-numbered batch, which stays live as the replay
    target.  Call between triggers or with the query stopped.

    The merged partial replaces the folded dirs through
    ``sources.commit.swap``, so a kill at any point either leaves every
    fold dir intact or completes on the next call; summed state is
    never silently lost, which the + merge could never detect or
    repair."""
    commit.recover(state_path)
    batches = sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(state_path)
        if name.startswith("batch=")
    )
    foldable = [b for b in batches[:-1] if b != -1] if len(batches) > 1 else []
    fold_names = [f"batch={b}" for b in foldable]
    if foldable and -1 in batches:
        fold_names.append("batch=-1")
    if not fold_names:
        return  # nothing beyond the compacted file / the replay target
    merged = spark.read.parquet(
        *[f"{state_path}/{n}" for n in fold_names]
    ).groupBy(*keys).agg(*_sum_aggs(value))
    commit.swap(
        state_path, "batch=-1", fold_names, merged.coalesce(1).write.parquet
    )
