"""Streaming exact quantiles: histogram sum-merge == batch
length_quantiles bit-for-bit, across restarts and compaction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _row(df):
    r = df.collect()[0]
    return (r["p50_chars"], r["p90_chars"], r["p99_chars"])


def test_streamed_quantiles_equal_batch_exactly(spark, tmp_path):
    import __spark_entry__ as entrymod
    from coa_ocr_simple_spark.plans.driver_queries_corpus import (
        quantiles_from_hist,
    )
    from coa_ocr_simple_spark.streaming.quantile_stream import (
        compact_length_state,
        length_quantiles_state,
        run_streaming_length_quantiles,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    inp = tmp_path / "docs"
    inp.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    docs.where(F.col("doc_id") % 2 == 0).toPandas().to_parquet(
        str(inp / "a.parquet")
    )
    run_streaming_length_quantiles(spark, str(inp), state, ckpt)
    half = _row(length_quantiles_state(spark, state))
    half_batch = _row(
        quantiles_from_hist(
            docs.where(F.col("doc_id") % 2 == 0)
            .groupBy("n_chars")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    )
    assert half == half_batch

    # second file after a checkpointed restart: merged state must now
    # equal the REGISTRY query's answer over the full table
    docs.where(F.col("doc_id") % 2 == 1).toPandas().to_parquet(
        str(inp / "b.parquet")
    )
    run_streaming_length_quantiles(spark, str(inp), state, ckpt)
    full = _row(length_quantiles_state(spark, state))
    batch = _row(entrymod.queries()["length_quantiles"](spark, SF))
    assert full == batch

    # compaction folds all but the newest batch and changes nothing
    assert (
        len([d for d in os.listdir(state) if d.startswith("batch=")]) == 2
    )
    compact_length_state(spark, state)
    dirs = sorted(d for d in os.listdir(state) if d.startswith("batch="))
    assert "batch=-1" in dirs and len(dirs) == 2
    assert _row(length_quantiles_state(spark, state)) == batch
    spark.catalog.clearCache()


def test_replayed_batch_is_overwritten_not_summed(spark, tmp_path):
    from coa_ocr_simple_spark.streaming.quantile_stream import (
        length_hist_partials,
        length_quantiles_state,
    )
    from coa_ocr_simple_spark.streaming._runner import (
        write_batch as write_partial,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    state = str(tmp_path / "state")
    hist = length_hist_partials(docs)
    write_partial(hist, state, 0)
    before = _row(length_quantiles_state(spark, state))
    write_partial(hist, state, 0)  # replay of the same batch id
    assert _row(length_quantiles_state(spark, state)) == before
    spark.catalog.clearCache()
