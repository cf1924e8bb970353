"""Streaming HLL: merge-exactness vs the batch query, checkpoint
restart continuation, replay idempotence, and state compaction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _estimates(df):
    return {
        r["source"]: (
            r["m_registers"],
            r["n_zero_registers"],
            r["est_distinct"],
        )
        for r in df.collect()
    }


def test_stream_merge_equals_batch_and_resumes(spark, tmp_path):
    from coa_ocr_simple_spark.plans.driver_queries_sketch import (
        hll_distinct_terms,
    )
    from coa_ocr_simple_spark.streaming.sketch_stream import (
        compact_hll_state,
        hll_state_estimate,
        run_streaming_hll,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    inp = tmp_path / "docs"
    inp.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # file 1: even docs — first run covers only this split
    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        str(inp / "a.parquet")
    )
    run_streaming_hll(spark, str(inp), state, ckpt)
    first = _estimates(hll_state_estimate(spark, state))
    batch_even = _estimates(
        hll_distinct_terms(docs.where(F.col("doc_id") % 2 == 0))
    )
    assert first == batch_even  # merge-exactness on the partial corpus

    # file 2 after restart: odd docs — the checkpoint resumes at the new
    # file only, and the merged state now equals the FULL batch answer
    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        str(inp / "b.parquet")
    )
    run_streaming_hll(spark, str(inp), state, ckpt)
    merged = _estimates(hll_state_estimate(spark, state))
    batch_all = _estimates(hll_distinct_terms(docs))
    assert merged == batch_all

    # the two runs wrote separate batch subdirectories
    batch_dirs = sorted(
        d for d in os.listdir(state) if d.startswith("batch=")
    )
    assert len(batch_dirs) == 2

    # compaction folds them to one bounded partial, estimate-preserving
    compact_hll_state(spark, state)
    assert sorted(
        d for d in os.listdir(state) if d.startswith("batch=")
    ) == ["batch=-1"]
    assert _estimates(hll_state_estimate(spark, state)) == batch_all


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """max-merge makes a replayed batch a semantic no-op, and the
    batch_id-keyed overwrite sink makes it a physical no-op too."""
    from coa_ocr_simple_spark.plans.driver_queries_sketch import (
        hll_register_partials,
    )
    from coa_ocr_simple_spark.streaming._runner import (
        write_batch as write_registers_batch,
    )
    from coa_ocr_simple_spark.streaming.sketch_stream import hll_state_estimate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    regs = hll_register_partials(docs)
    state = str(tmp_path / "state")
    write_registers_batch(regs, state, 0)
    once = _estimates(hll_state_estimate(spark, state))
    n_rows_once = spark.read.parquet(state).count()
    # crash-before-commit replay: same batch_id re-emitted
    write_registers_batch(regs, state, 0)
    assert _estimates(hll_state_estimate(spark, state)) == once
    assert spark.read.parquet(state).count() == n_rows_once
