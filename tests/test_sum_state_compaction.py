"""Crash-safety of the shared sum-state compactor (round-6 advisor
item): a kill at ANY point of compact_state must never lose summed
state — either every fold dir is intact (staging discarded) or the
staged merge completes deterministically on the next call."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from coa_ocr_simple_spark.sources.commit import STAGING as _COMPACT_TMP
from coa_ocr_simple_spark.streaming._runner import write_batch as write_partial
from coa_ocr_simple_spark.streaming._sum_state import (
    compact_state,
    merged_state,
)


def _mk_partials(spark, state, batches):
    for b, rows in batches.items():
        df = spark.createDataFrame(rows, "k string, v long")
        write_partial(df, state, b)


def _totals(spark, state):
    return {
        r["k"]: r["v"]
        for r in merged_state(spark, state, ["k"], "v").collect()
    }


BATCHES = {
    0: [("a", 1), ("b", 10)],
    1: [("a", 2)],
    2: [("b", 5), ("c", 7)],
    3: [("a", 100)],  # highest batch: stays live as the replay target
}
EXPECT = {"a": 103, "b": 15, "c": 7}


def test_compaction_preserves_totals_and_replay_target(spark, tmp_path):
    state = str(tmp_path / "state")
    _mk_partials(spark, state, BATCHES)
    assert _totals(spark, state) == EXPECT
    compact_state(spark, state, ["k"], "v")
    assert _totals(spark, state) == EXPECT
    names = sorted(n for n in os.listdir(state) if n.startswith("batch="))
    assert names == ["batch=-1", "batch=3"]
    assert not os.path.exists(os.path.join(state, _COMPACT_TMP))


def test_uncommitted_staging_is_discarded(spark, tmp_path):
    """Crash BEFORE the manifest was written: fold dirs are all intact,
    so the staging dir (possibly holding a partial parquet) must be
    dropped and the state must compact correctly afterwards."""
    state = str(tmp_path / "state")
    _mk_partials(spark, state, BATCHES)
    tmp = os.path.join(state, _COMPACT_TMP)
    os.makedirs(os.path.join(tmp, "batch=-1"))  # torn write, no MANIFEST
    with open(os.path.join(tmp, "batch=-1", "junk"), "w") as f:
        f.write("partial")
    compact_state(spark, state, ["k"], "v")
    assert _totals(spark, state) == EXPECT
    assert not os.path.exists(tmp)


def test_committed_staging_recovers_after_partial_delete(spark, tmp_path):
    """Crash AFTER the manifest commit point, mid-way through deleting
    the fold dirs: the next compaction must finish the promotion without
    double-counting the fold dirs that were not yet deleted."""
    state = str(tmp_path / "state")
    _mk_partials(spark, state, BATCHES)

    # stage a real committed compaction: merged copy of batches 0-2
    merged = (
        spark.read.parquet(
            *[f"{state}/batch={b}" for b in (0, 1, 2)]
        )
        .groupBy("k")
        .agg(F.sum("v").cast("long").alias("v"))
    )
    tmp = os.path.join(state, _COMPACT_TMP)
    merged.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/batch=-1")
    with open(os.path.join(tmp, "MANIFEST"), "w") as f:
        f.write("batch=0\nbatch=1\nbatch=2\n")
    # simulate the crash: only SOME fold dirs were deleted
    shutil.rmtree(os.path.join(state, "batch=1"))

    compact_state(spark, state, ["k"], "v")
    assert _totals(spark, state) == EXPECT
    names = sorted(n for n in os.listdir(state) if n.startswith("batch="))
    assert names == ["batch=-1", "batch=3"]
    assert not os.path.exists(tmp)
