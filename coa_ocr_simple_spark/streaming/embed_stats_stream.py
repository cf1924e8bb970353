"""Streaming embedding drift monitor — the incremental twin of
plans/driver_queries_ext.embedding_label_stats.

An unbounded feed of embedding files maintains the per-label drift
triple (centroid / mean squared norm / mean squared distance) without
keeping any per-vector state: each micro-batch reduces to MOMENT
partials — per (label, dim) component sums plus per-label count and
squared-norm sum — and those partials are the entire cross-batch state
(O(labels * dim) rows total).

The estimate is EXACT, not approximate: with c = S DIV n the per-row
batch computation satisfies the integer identity

    sum_rows |x - c|^2  =  P  -  2 * (c . S)  +  n * |c|^2

(no truncation occurs inside — c is an integer vector), so the
moments-based streaming answer is bit-identical to the batch query
over the union of all vectors streamed so far, under ANY file/batch
split.  Merge is SUM (associative + commutative but NOT idempotent,
unlike HLL's max), so replay safety comes entirely from
``_runner.write_batch``.

State layout (one table, exactly mergeable by SUM over (label, d)):
    d in [0, dim)  ->  component sum of dimension d
    d = -1         ->  vector count
    d = -2         ->  sum of squared norms
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..plans.driver_queries_ext import _quantize
from ._runner import to_batches
from ._sum_state import merged_state

EMBEDDINGS_LABELED = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

_D_COUNT = -1
_D_SQNORM = -2


def moment_partials(emb_raw: DataFrame) -> DataFrame:
    """(label, d, s): the mergeable moment rows for one batch."""
    emb = emb_raw.select(
        F.col("label").cast("long").alias("label"),
        _quantize(F.col("embedding")).alias("qv"),
    )
    comp = (
        emb.select("label", F.posexplode("qv").alias("d", "v"))
        .groupBy("label", F.col("d").cast("long").alias("d"))
        .agg(F.sum("v").alias("s"))
    )
    norm = F.aggregate(
        F.transform("qv", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scalars = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum(norm).alias("p")
    )
    return comp.unionByName(
        scalars.select(
            "label", F.lit(_D_COUNT).cast("long").alias("d"), F.col("n").alias("s")
        )
    ).unionByName(
        scalars.select(
            "label",
            F.lit(_D_SQNORM).cast("long").alias("d"),
            F.col("p").alias("s"),
        )
    )


def label_stats_estimate(spark: SparkSession, state_path: str) -> DataFrame:
    """(label, n_vectors, mean_sq_norm, centroid_m, msd): the running
    drift triple — column-identical and VALUE-identical to the batch
    embedding_label_stats over the union of everything streamed."""
    m = merged_state(spark, state_path, ["label", "d"], "s").persist()
    m.count()  # three consumers below
    n = m.where(F.col("d") == _D_COUNT).select(
        "label", F.col("s").alias("n_vectors")
    )
    p = m.where(F.col("d") == _D_SQNORM).select(
        "label", F.col("s").alias("s_nrm")
    )
    comp = m.where(F.col("d") >= 0).join(F.broadcast(n), "label")
    cdim = comp.select(
        "label", "d", "s", F.expr("s DIV n_vectors").alias("cv")
    )
    per_label = cdim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "cv"))),
            lambda x: x["cv"],
        ).alias("centroid_m"),
        F.sum(F.expr("cv * s")).alias("c_dot_s"),
        F.sum(F.expr("cv * cv")).alias("c_dot_c"),
    )
    return (
        per_label.join(F.broadcast(n), "label")
        .join(F.broadcast(p), "label")
        .select(
            "label",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.expr("s_nrm DIV n_vectors").cast("long").alias("mean_sq_norm"),
            "centroid_m",
            F.expr(
                "(s_nrm - 2 * c_dot_s + n_vectors * c_dot_c) DIV n_vectors"
            )
            .cast("long")
            .alias("msd"),
        )
    )


def run_streaming_embed_stats(
    spark: SparkSession,
    input_path: str,
    state_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Maintain the moment state as embedding files arrive."""
    stream = spark.readStream.schema(EMBEDDINGS_LABELED).parquet(input_path)
    return to_batches(
        stream, moment_partials, state_path, stream_checkpoint, available_now
    )
