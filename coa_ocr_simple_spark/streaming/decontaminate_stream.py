"""Streaming eval-set decontamination — stream-static join variant of
plans/driver_queries_quality.gram_decontamination.

An unbounded feed of CANDIDATE eval documents is screened against a
static, pre-computed table of training-corpus 13-token-gram hashes; any
candidate sharing a gram with the training set is flagged before it can
enter an eval benchmark.  This covers the Structured Streaming feature
the other stream modules don't: a STREAM-STATIC equi-join (the static
side is re-read per micro-batch; the join itself needs no streaming
state).

Scale shape: the static gram table is the big side (train corpus), the
per-batch stream side is small — exactly the asymmetry stream-static
joins are built for.  The gram hash (md5, 32 hex) is the join key, so
the static table can be bucketed by ``g`` at write time to make the
join shuffle-free on the static side.  The per-candidate verdict is a
batch-local rollup inside ``foreachBatch`` — exact, because the file
source delivers each candidate doc in exactly one micro-batch — so no
cross-batch state and no watermark are needed.  Exactness extends to
the sink, ``_runner.write_batch``.

One semantics, two drivers: the gram plan is the same ``_token_grams``
the batch query runs — the batch DuckDB oracle covers the gram + join
semantics; the streaming tests verify the incremental delivery
(per-batch flagging, restart continuation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_quality import (
    _DECON_N,
    _MAX_GRAM_TRAIN_DOCS,
    _token_grams,
)
from ._runner import to_batches
from .dedup_stream import DOCUMENTS_FLAT


def train_grams(train_docs: DataFrame, n: int = _DECON_N) -> DataFrame:
    """(g, train_doc_id): the static gram table the stream joins against.

    Materialize once (``.write.parquet`` — or bucketBy('g') under a
    catalog): recomputing grams per micro-batch would re-pay the
    tokenize cost on the big side every batch.  The hot-gram guard
    (_MAX_GRAM_TRAIN_DOCS — same constant, same semantics as the batch
    gram_decontamination query) is applied at BUILD time, so each
    micro-batch join is bounded per gram key for free."""
    g = _token_grams(train_docs, n).select(
        "g", F.col("doc_id").alias("train_doc_id")
    )
    ok = (
        g.groupBy("g")
        .agg(F.count_distinct("train_doc_id").alias("_g_n"))
        .where(F.col("_g_n") <= _MAX_GRAM_TRAIN_DOCS)
        .select("g")
    )
    return g.join(ok, "g", "left_semi")


def flag_contaminated(candidates: DataFrame, static_grams: DataFrame) -> DataFrame:
    """(doc_id, n_overlap_grams, n_train_docs) for every candidate doc
    sharing >= 1 exact n-gram with the training set (clean docs emit no
    row) — same rollup as the batch query, applied to one batch."""
    return (
        _token_grams(candidates, _DECON_N)
        .join(static_grams, "g")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("g").alias("n_overlap_grams"),
            F.count_distinct("train_doc_id").alias("n_train_docs"),
        )
    )


def run_streaming_decontamination(
    spark: SparkSession,
    candidates_path: str,
    train_grams_path: str,
    output_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Incrementally screen candidate docs as files arrive; contaminated
    ones land in ``output_path`` with their overlap mass.  Restarting
    from the checkpoint resumes at the first unprocessed file."""
    static_grams = spark.read.parquet(train_grams_path)
    stream = spark.readStream.schema(DOCUMENTS_FLAT).parquet(candidates_path)
    return to_batches(
        stream,
        lambda batch_df: flag_contaminated(batch_df, static_grams),
        output_path,
        stream_checkpoint,
        available_now,
    )
