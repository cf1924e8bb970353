"""Checkpoint / lineage / resume (SURVEY.md §4.2.2).

Resumability model for a 10^12-doc run:
- the extracted table carries lineage columns ``_run_id`` and
  ``_partition_id`` (written per task via spark_partition_id());
- the checkpoint table holds per-partition, per-doc-type metrics rows
  (run_id, partition_id, doc_type, n_docs, n_spans, status) of the rows
  one invocation appended, one file per invocation, so a run id reused
  by a resume adds its own rows and never recounts earlier ones;
- a resume run anti-joins the input against the extracted table's doc_ids,
  so only unfinished documents are processed.  Appends are idempotent at
  the document level because each doc_id is processed exactly once per
  final table state (re-running a partially-completed run adds only the
  missing documents);
- a resume first keeps at most one task's worth of those documents,
  with one eager ``localCheckpoint`` that scans the input and the done
  set.  An empty delta writes nothing to the output or the checkpoint; a
  delta that small is extracted from the checkpoint, not the input; a
  larger one is counted and, while small, extracted in fewer tasks, so
  it appends fewer files (``jobs.extract.delta_tasks``).  ``release``
  frees the kept documents' blocks after the append: ``unpersist()``
  does not.

With an Iceberg catalog the append is snapshot-isolated; with the Parquet
fallback the job-level output committer gives all-or-nothing per write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINEAGE_RUN = "_run_id"
LINEAGE_PARTITION = "_partition_id"


def with_lineage(results: DataFrame, run_id: str) -> DataFrame:
    return results.withColumn(LINEAGE_RUN, F.lit(run_id)).withColumn(
        LINEAGE_PARTITION, F.spark_partition_id()
    )


def resume_filter(docs: DataFrame, done: DataFrame | None) -> DataFrame:
    """Anti-join the input against already-extracted doc_ids.

    ``done`` is the extracted table (any subset of columns including
    doc_id; read it as just ``doc_id string``) or None for a fresh run.
    A left-anti join has set semantics, so the done side needs no
    distinct.  Broadcast is left to AQE: at small completed-set sizes it
    becomes a broadcast anti-join, at large sizes a shuffle join — both
    correct.
    """
    if done is None:
        return docs
    return docs.join(done.select("doc_id"), on="doc_id", how="left_anti")


def release(df: DataFrame) -> None:
    """Free the executor blocks of a persisted or a checkpointed frame.

    ``DataFrame.unpersist()`` frees only a persisted frame.  A
    ``localCheckpoint`` is a ``LogicalRDD`` over an RDD that holds the
    blocks, and those stay until the driver garbage-collects the RDD."""
    df.unpersist()
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(True)


def partition_metrics(results_with_lineage: DataFrame, status: str = "ok") -> DataFrame:
    """Per-partition, per-doc-type lineage metrics for the checkpoint table."""
    return results_with_lineage.groupBy(
        F.col(LINEAGE_RUN).alias("run_id"),
        F.col(LINEAGE_PARTITION).alias("partition_id"),
        F.col("doc_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_spans").cast("long").alias("n_spans"),
        F.lit(status).alias("status"),
    )
