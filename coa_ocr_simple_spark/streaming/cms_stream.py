"""Streaming Count-Min — the incremental twin of
plans/driver_queries_sketch.cms_term_counts' grid, and the second
member of the mergeable-sketch family (streaming/sketch_stream.py is
the HLL one).

Each micro-batch reduces to a (j, c, cnt) partial grid — at most
d * w = 65536 rows regardless of batch size — and those partials are
the ENTIRE cross-batch state.  The running frequency estimate of any
probe vocabulary is `cms_estimate` over the SUM-merge of all partials.

The correctness story differs from HLL in exactly one way, and the
sink design follows from it:

- **Merge-exactness**: + is associative/commutative, so the merged
  grid after streaming the corpus in ANY file/batch split is
  bit-identical to the single-pass batch grid — pinned by
  tests/test_cms_stream.py against cms_term_counts.
- **Replay is NOT free**: unlike max, + is not idempotent — a
  re-merged replayed batch WOULD double-count.  Replay safety rests
  entirely on ``_runner.write_batch``.  Consequently `compact_cms_state`
  folds all partials EXCEPT the highest batch id's: after a restart,
  the only batch foreachBatch may re-deliver is the last uncommitted
  one, and folding it into the compacted file would turn that replay
  into a double count.

Scale shape: per-batch work is one explode + one map-side-combinable
count aggregate; cross-batch state is O(d * w) rows per batch file
until compaction folds them back to one bounded file.  Reading the
estimate never rescans document bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.driver_queries_sketch import cms_estimate, cms_grid_partials
from ._runner import to_batches
from ._sum_state import compact_state, merged_state
from .dedup_stream import DOCUMENTS_FLAT


def merged_grid(spark: SparkSession, state_path: str) -> DataFrame:
    """(j, c, cnt): the sum-merge of every partial written so far — the
    canonical current sketch."""
    return merged_state(spark, state_path, ["j", "c"], "cnt")


def cms_state_estimate(
    spark: SparkSession, state_path: str, probe: DataFrame
) -> DataFrame:
    """(term, est_count): running Count-Min estimates of the probe
    terms (a `term` column) from the state directory.  Equals the batch
    grid's estimates over the union of all documents streamed so far
    (merge-exactness, test-pinned)."""
    return cms_estimate(merged_grid(spark, state_path), probe)


def compact_cms_state(spark: SparkSession, state_path: str) -> None:
    """Fold per-batch partials into a single ``batch=-1`` partial of the
    same bounded O(d * w) size — EXCEPT the highest-numbered batch,
    which stays as its own subdirectory: it is the only batch a
    checkpoint-resumed stream may re-deliver, and its replay must keep
    overwriting a live subdirectory rather than double-count against an
    already-folded copy.  Call between triggers or with the query
    stopped."""
    compact_state(spark, state_path, ["j", "c"], "cnt")


def run_streaming_cms(
    spark: SparkSession,
    docs_path: str,
    state_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Maintain the Count-Min grid incrementally as document files
    arrive.  Restarting from the checkpoint resumes at the first
    unprocessed file; query running estimates at any time with
    :func:`cms_state_estimate`."""
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(docs_path)
    return to_batches(
        stream, cms_grid_partials, state_path, stream_checkpoint, available_now
    )
