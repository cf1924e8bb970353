"""Streaming HyperLogLog — the incremental twin of
plans/driver_queries_sketch.hll_distinct_terms, and the operator that
demonstrates WHY the sketch state was designed mergeable.

An unbounded feed of document files maintains a running per-source
distinct-token estimate without ever keeping per-token state: each
micro-batch reduces to at most 256 (source, reg, r) register rows per
source (``hll_register_partials`` — the exact code path the batch query
runs), and those partials are the ENTIRE cross-batch state.  The
running estimate at any moment is ``hll_estimate`` over the max-merge
of all partials written so far.

Two properties carry the correctness story:

- **Merge-exactness**: max() is associative and commutative, so the
  estimate after streaming the corpus in ANY file/batch split is
  bit-identical to the single-pass batch query's answer — pinned by
  tests/test_sketch_stream.py against ``hll_distinct_terms``.  This is
  the streaming analogue of the batch query's DuckDB oracle.
- **Replay-idempotence for free**: max() is also idempotent, so even a
  blind re-merge of a replayed batch could not change the state.  The
  sink is still ``_runner.write_batch``, so the state directory never
  accumulates duplicate FILES either.

Scale shape: per-batch work is one explode + one map-side-combinable
max aggregate; cross-batch state is O(sources * 256) rows TOTAL (times
the number of batches until compaction — each partial file is a few KB,
and ``compact_hll_state`` folds them back to one file of the same
bounded size whenever the directory count grows).  Reading the estimate
never rescans any document bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_sketch import hll_estimate, hll_register_partials
from ..sources import commit
from ._runner import to_batches
from .dedup_stream import DOCUMENTS_FLAT


def merged_registers(spark: SparkSession, state_path: str) -> DataFrame:
    """(source, reg, r): the max-merge of every partial written so far —
    the canonical current sketch state."""
    return (
        spark.read.parquet(state_path)
        .groupBy("source", "reg")
        .agg(F.max("r").alias("r"))
    )


def hll_state_estimate(spark: SparkSession, state_path: str) -> DataFrame:
    """(source, m_registers, n_zero_registers, est_distinct): the
    running estimate from the state directory.  Equals the batch
    ``hll_distinct_terms`` over the union of all documents streamed so
    far (merge-exactness, test-pinned)."""
    return hll_estimate(merged_registers(spark, state_path))


def compact_hll_state(spark: SparkSession, state_path: str) -> None:
    """Fold all per-batch partials into a single ``batch=-1`` partial of
    the same bounded O(sources * 256) size, then let later batches keep
    appending their own subdirectories.  Estimate-preserving because the
    merged register table IS a valid partial (max is idempotent); safe
    against a concurrent reader only between triggers — call it from the
    foreachBatch hook or while the query is stopped.  The merged partial
    replaces every ``batch=`` dir through ``sources.commit.swap``, so a
    kill at any point loses no register."""
    commit.recover(state_path)
    names = [n for n in os.listdir(state_path) if n.startswith("batch=")]
    merged = merged_registers(spark, state_path).coalesce(1)
    commit.swap(state_path, "batch=-1", names, merged.write.parquet)


def run_streaming_hll(
    spark: SparkSession,
    docs_path: str,
    state_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Maintain the per-source HLL register state incrementally as
    document files arrive.  Restarting from the checkpoint resumes at
    the first unprocessed file; query the running estimate at any time
    with :func:`hll_state_estimate`."""
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(docs_path)
    return to_batches(
        stream, hll_register_partials, state_path, stream_checkpoint, available_now
    )
