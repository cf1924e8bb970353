from __future__ import annotations

import itertools

import pytest

from coa_ocr_simple_spark.fixtures.generate import (
    build_parity_corpus,
    media_lookup,
    write_corpus,
)
from coa_ocr_simple_spark.session import make_session


@pytest.fixture(scope="session")
def spark():
    spark = make_session(
        "coa-ocr-simple-spark-tests",
        "local[4]",
        8,
        ["spark.driver.memory=4g", "spark.ui.enabled=false"],
    )
    yield spark
    spark.stop()


_groups = itertools.count()


def _run_in_group(spark, fn) -> tuple[list[int], list]:
    """Run ``fn()`` in a job group of its own; return the Spark jobs it
    ran and the SQL executions (``SQLExecutionUIData``) that ran them,
    read from Spark's SQL status store once its listener has caught up."""
    sc = spark.sparkContext
    group = f"action-budget-{next(_groups)}"
    sc.setJobGroup(group, "action budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(n - 50, 0), 50)
    runs = [recent.apply(i) for i in range(recent.size())]
    return job_ids, [r for r in runs if any(r.jobs().contains(j) for j in job_ids)]


@pytest.fixture
def job_and_action_counts(spark):
    """``job_and_action_counts(fn)`` runs ``fn()`` in a job group of its
    own and returns ``(Spark jobs, SQL actions)`` it ran."""

    def count(fn) -> tuple[int, int]:
        job_ids, runs = _run_in_group(spark, fn)
        return len(job_ids), len(runs)

    return count


@pytest.fixture
def sql_executions(spark):
    """``sql_executions(fn)`` runs ``fn()`` in a job group of its own and
    returns the SQL executions (``SQLExecutionUIData``) it ran."""
    return lambda fn: _run_in_group(spark, fn)[1]


@pytest.fixture
def local_checkpoints(spark, monkeypatch):
    """``local_checkpoints()`` returns ``(made, stored)``: the ids of the
    RDDs ``DataFrame.localCheckpoint`` made since the test began, and
    those of them whose blocks are still in executor storage."""
    made = []
    cls = type(spark.range(0))  # the classic DataFrame, not the API base
    local_checkpoint = cls.localCheckpoint

    def _local_checkpoint(self, *args, **kwargs):
        df = local_checkpoint(self, *args, **kwargs)
        made.append(df._jdf.logicalPlan().rdd().id())
        return df

    monkeypatch.setattr(cls, "localCheckpoint", _local_checkpoint)

    def blocks() -> tuple[list[int], list[int]]:
        stored = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
        return list(made), [i for i in made if i in stored]

    return blocks


@pytest.fixture(scope="session")
def parity_corpus(tmp_path_factory):
    builder = build_parity_corpus()
    root = tmp_path_factory.mktemp("parity")
    docs_path = str(root / "documents.parquet")
    media_path = str(root / "media.parquet")
    write_corpus(builder, docs_path, media_path)
    return {
        "builder": builder,
        "docs_path": docs_path,
        "media_path": media_path,
        "lookup": media_lookup(builder),
    }
