"""Streaming k-means drift monitor — arriving embeddings are assigned
to the PERSISTED index's coarse centroids (jobs/ann_index.py build
artifact) and reduced to per-cluster (n_vectors, sum_d2q) partials: the
additive pair that detects both drift signatures without ever storing
vectors —

- population shift: a cluster's share of arriving traffic moves;
- dispersion growth: mean squared distance to the centroid rises
  (the data no longer looks like what the quantizer was trained on —
  the signal that schedules a re-train / index rebuild).

State is a _sum_state sketch (batch==stream sum-merge exactness,
replay safety from ``_runner.write_batch``, highest-batch-id-live
compaction).  Distances are the exact integers of _ivf_lloyd_assign,
de-scaled per row (d2 DIV Q^2) before summing so totals stay BIGINT-
safe at any stream length — the kmeans_clusters recipe.

Centroid units: a lloyd_l2 index stores Q-unit centroids (used as-is);
a seed_dot index stores raw-unit centroids, which are Q-scaled on load
so the same assignment math applies.

Metric note (round-6 advisor item): the monitor ALWAYS uses k-means
(min-L2) geometry, regardless of index kind.  For a lloyd_l2 index
this matches the routing exactly; for a seed_dot index — which routes
by max dot product — the monitored per-cluster populations partition
the space differently from the index's code lists (Q-scaling units
does not make dot and L2 agree).  The dispersion/population-shift
signals are still about the same centroid set and remain a valid
re-train trigger, but they are L2-cell statistics, not per-code-list
traffic, for seed-built indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_ext import _PQ_LLOYD_Q, _ivf_lloyd_assign
from ..plans.ann_index import quantized
from ._runner import to_batches
from ._sum_state import compact_state, merged_state

_VALUES = ["n_vectors", "sum_d2q"]
_Q2 = _PQ_LLOYD_Q * _PQ_LLOYD_Q


def cluster_batch_stats(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(centroid_id, n_vectors, sum_d2q) for one quantized batch
    against Q-unit centroids."""
    assign = _ivf_lloyd_assign(emb, centroids)
    return assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.expr(f"d2 DIV {_Q2}")).cast("long").alias("sum_d2q"),
    )


def load_monitor_centroids(spark: SparkSession, index_path: str) -> DataFrame:
    """The index's coarse centroids in Q units regardless of how the
    index was built (seed_dot centroids are raw-unit and get scaled)."""
    from ..jobs.ann_index import _coarse_kind

    cents = spark.read.parquet(f"{index_path}/centroids")
    if _coarse_kind(spark, index_path) == "lloyd_l2":
        return cents
    return cents.select(
        "centroid_id",
        F.transform("cv", lambda x: x * _PQ_LLOYD_Q).alias("cv"),
    )


def cluster_drift_state(
    spark: SparkSession, state_path: str, centroids: DataFrame
) -> DataFrame:
    """(centroid_id, n_vectors, sum_d2q, mean_d2q): running per-cluster
    population and dispersion over everything streamed so far — one row
    per centroid, zeros included (an EMPTYING cluster is itself a drift
    signal)."""
    merged = merged_state(spark, state_path, ["centroid_id"], _VALUES)
    return (
        centroids.select("centroid_id")
        .join(merged, "centroid_id", "left")
        .select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.coalesce("n_vectors", F.lit(0)).cast("long").alias("n_vectors"),
            F.coalesce("sum_d2q", F.lit(0)).cast("long").alias("sum_d2q"),
            F.when(
                F.coalesce("n_vectors", F.lit(0)) > 0,
                F.expr("sum_d2q DIV n_vectors"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_d2q"),
        )
    )


def compact_drift_state(spark: SparkSession, state_path: str) -> None:
    compact_state(spark, state_path, ["centroid_id"], _VALUES)


def run_streaming_cluster_drift(
    spark: SparkSession,
    emb_path: str,
    index_path: str,
    state_path: str,
    stream_checkpoint: str,
    *,
    available_now: bool = True,
):
    """Assign arriving embedding files to the stored index's centroids
    and maintain the per-cluster drift counters; read them any time
    with :func:`cluster_drift_state`."""
    centroids = load_monitor_centroids(spark, index_path)
    schema = spark.read.parquet(emb_path).schema
    stream = spark.readStream.schema(schema).parquet(emb_path)
    return to_batches(
        stream,
        lambda batch_df: cluster_batch_stats(quantized(batch_df), centroids),
        state_path,
        stream_checkpoint,
        available_now,
    )
