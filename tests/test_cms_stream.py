"""Streaming Count-Min: sum-merge exactness vs the batch grid,
checkpoint restart continuation, batch_id-keyed replay safety, and
the replay-aware compaction (highest batch id never folded)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _probe(spark):
    """The batch query's probe vocabulary (doc_id % 100 == 7 terms)."""
    from coa_ocr_simple_spark.plans.driver_queries_sketch import (
        _CMS_PROBE_MOD,
        _CMS_PROBE_RES,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return (
        docs.where(F.col("doc_id") % _CMS_PROBE_MOD == _CMS_PROBE_RES)
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term")
        )
        .distinct()
    )


def _est(df):
    return {r["term"]: r["est_count"] for r in df.collect()}


def test_stream_merge_equals_batch_and_compaction(spark, tmp_path):
    from coa_ocr_simple_spark.plans.driver_queries_sketch import (
        cms_estimate,
        cms_grid_partials,
        cms_term_counts,
    )
    from coa_ocr_simple_spark.streaming.cms_stream import (
        cms_state_estimate,
        compact_cms_state,
        run_streaming_cms,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    inp = tmp_path / "docs"
    inp.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    probe = _probe(spark).persist()
    probe.count()

    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        str(inp / "a.parquet")
    )
    run_streaming_cms(spark, str(inp), state, ckpt)
    first = _est(cms_state_estimate(spark, state, probe))
    batch_even = _est(
        cms_estimate(
            cms_grid_partials(docs.where(F.col("doc_id") % 2 == 0)), probe
        )
    )
    assert first == batch_even  # sum-merge exactness on the half corpus

    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        str(inp / "b.parquet")
    )
    run_streaming_cms(spark, str(inp), state, ckpt)
    merged = _est(cms_state_estimate(spark, state, probe))
    # the streamed-union grid estimates == the batch QUERY's est_count
    batch_rows = cms_term_counts(docs).collect()
    assert merged == {r["term"]: r["est_count"] for r in batch_rows}
    # and the CMS overestimate invariant holds against the exact counts
    assert all(
        merged[r["term"]] >= r["exact_count"] for r in batch_rows
    )

    dirs = sorted(d for d in os.listdir(state) if d.startswith("batch="))
    assert len(dirs) == 2

    # compaction folds all but the HIGHEST batch (the only replayable
    # one under a resumed checkpoint) and preserves every estimate
    compact_cms_state(spark, state)
    dirs = sorted(d for d in os.listdir(state) if d.startswith("batch="))
    assert "batch=-1" in dirs and len(dirs) == 2
    assert _est(cms_state_estimate(spark, state, probe)) == merged
    # a second compaction with nothing new to fold is a no-op
    compact_cms_state(spark, state)
    assert _est(cms_state_estimate(spark, state, probe)) == merged
    probe.unpersist()
    spark.catalog.clearCache()


def test_replayed_batch_overwrites_not_doubles(spark, tmp_path):
    """+ is not idempotent, so replay safety is ENTIRELY the batch_id-
    keyed overwrite sink: re-emitting the same batch id leaves every
    estimate unchanged; folding the replay target would have doubled
    it (guarded by compaction keeping the highest id live)."""
    from coa_ocr_simple_spark.plans.driver_queries_sketch import (
        cms_grid_partials,
    )
    from coa_ocr_simple_spark.streaming._runner import (
        write_batch as write_grid_batch,
    )
    from coa_ocr_simple_spark.streaming.cms_stream import cms_state_estimate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    probe = _probe(spark).persist()
    probe.count()
    state = str(tmp_path / "state")
    grid = cms_grid_partials(docs)
    write_grid_batch(grid, state, 0)
    before = _est(cms_state_estimate(spark, state, probe))
    write_grid_batch(grid, state, 0)  # replay: same id, overwrite
    after = _est(cms_state_estimate(spark, state, probe))
    assert after == before
    # a genuinely NEW batch id (the failure mode the sink prevents)
    # would double every count
    write_grid_batch(grid, state, 1)
    doubled = _est(cms_state_estimate(spark, state, probe))
    assert doubled == {t: 2 * v for t, v in before.items()}
    probe.unpersist()
    spark.catalog.clearCache()
