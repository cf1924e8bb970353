"""Streaming BM25 standing-query routing — stream-static variant of
plans/driver_queries_corpus.q_bm25_topk's scorer half.

The batch query ranks a finite corpus for each query; the streaming
form answers the PERCOLATOR question instead: as documents arrive,
which standing queries does each one match, and how well?  (Alert
routing / topic tagging at ingest — a global top-k over an unbounded
stream is not a well-defined operator, so none is attempted.)

Scale shape: the static model (bm25_model — standing-query terms
denormalized with the reference corpus statistics) is at most
queries x terms rows, broadcast; per-batch scoring is one term explode
-> broadcast inner equi-join -> batch-local per-(query, doc) rollup
inside ``foreachBatch`` (the file source delivers each doc in exactly
one micro-batch), no cross-batch state, no watermark.  dl is a per-doc
property and derives from the batch itself; df / n_docs / avgdl_m ride
the model rows — scores are therefore IDENTICAL to the batch scorer on
the same docs (pinned by tests/test_bm25_stream.py).  Sink:
``_runner.write_batch``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.driver_queries_corpus import bm25_model, bm25_score
from ._runner import to_batches
from .dedup_stream import DOCUMENTS_FLAT

__all__ = ["bm25_model", "bm25_score", "run_streaming_bm25"]


def run_streaming_bm25(
    spark: SparkSession,
    input_path: str,
    model_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Score documents against the standing queries as files arrive.
    Restarting from the checkpoint resumes at the first unprocessed
    file."""
    model = spark.read.parquet(model_path)
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(input_path)
    return to_batches(
        stream,
        lambda batch_df: bm25_score(batch_df, model),
        output_path,
        stream_checkpoint,
        available_now,
    )
