"""Streaming EXACT quantiles — the incremental twin of the registry's
`length_quantiles`.

The trick that makes streamed quantiles exact instead of approximate
(no KLL/t-digest error bars): the batch query already computes
percentiles from a VALUE HISTOGRAM (n_chars -> count), and a histogram
is an additive mergeable sketch — each micro-batch reduces to its own
(n_chars, cnt) partial, partials sum-merge across any batch split, and
`quantiles_from_hist` over the merged table is bit-identical to the
single-pass batch answer (pinned by tests/test_quantile_stream.py).
State size is bounded by the number of DISTINCT lengths seen, not the
corpus size — the same value-domain bound the batch plan exploits.

Replay safety follows streaming/_sum_state.py's two rules: + is not
idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_corpus import quantiles_from_hist
from ._runner import to_batches
from ._sum_state import compact_state, merged_state
from .dedup_stream import DOCUMENTS_FLAT


def length_hist_partials(docs: DataFrame) -> DataFrame:
    """(n_chars, cnt): one micro-batch's value histogram — the entire
    contribution of the batch to the cross-stream state."""
    return docs.groupBy("n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def length_quantiles_state(spark: SparkSession, state_path: str) -> DataFrame:
    """(p50_chars, p90_chars, p99_chars): the running EXACT percentiles
    over every document streamed so far — equals the batch
    length_quantiles on the same union, bit for bit."""
    return quantiles_from_hist(
        merged_state(spark, state_path, ["n_chars"], "cnt")
    )


def compact_length_state(spark: SparkSession, state_path: str) -> None:
    """Fold partials into ``batch=-1``, keeping the highest batch id
    live as the checkpoint-replay target (see _sum_state)."""
    compact_state(spark, state_path, ["n_chars"], "cnt")


def run_streaming_length_quantiles(
    spark: SparkSession,
    docs_path: str,
    state_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Maintain the length histogram incrementally as document files
    arrive; read the running exact percentiles at any time with
    :func:`length_quantiles_state`."""
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(docs_path)
    return to_batches(
        stream, length_hist_partials, state_path, stream_checkpoint, available_now
    )
