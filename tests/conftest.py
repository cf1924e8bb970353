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


@pytest.fixture
def job_and_action_counts(spark):
    """``job_and_action_counts(fn)`` runs ``fn()`` in a job group of its
    own and returns ``(Spark jobs, SQL actions)`` it ran.  SQL actions are
    read from Spark's SQL status store once its listener has caught up."""
    sc = spark.sparkContext

    def count(fn) -> tuple[int, int]:
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
        n_actions = sum(
            1
            for i in range(recent.size())
            if any(recent.apply(i).jobs().contains(j) for j in job_ids)
        )
        return len(job_ids), n_actions

    return count


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
