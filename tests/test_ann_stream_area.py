"""The ANN index's streaming-ingest area (``<index>/codes_stream``): only
a missing area reads as absent — any other read error raises — and
``ann_index compact`` survives a kill between its append and the
removal of the area."""

from __future__ import annotations

import shutil

import pytest
from pyspark.errors import AnalysisException

from coa_ocr_simple_spark.jobs.ann_index import parse_args, run_compact
from coa_ocr_simple_spark.streaming.ann_ingest_stream import ingested_codes


def _codes(spark, ids, cols="vec_id long, code string"):
    return spark.createDataFrame([(i, f"c{i}") for i in ids], cols)


def _index(spark, tmp_path, batches, cols="vec_id long, code string"):
    index = str(tmp_path / "index")
    _codes(spark, range(10)).write.parquet(f"{index}/codes")
    for b, ids in batches.items():
        _codes(spark, ids, cols).write.parquet(f"{index}/codes_stream/batch={b}")
    return index


def _compact(index):
    return parse_args(["compact", "--index", index])


def test_missing_stream_area_reads_as_absent(spark, tmp_path):
    index = _index(spark, tmp_path, {})
    assert ingested_codes(spark, index).count() == 10
    assert run_compact(_compact(index), spark) == {
        "n_compacted": 0,
        "stream_area": "absent",
    }


def test_mismatched_stream_batch_raises_instead_of_dropping(spark, tmp_path):
    """A codes_stream batch whose columns do not match ``codes`` is an
    error, not an absent area: reading it as absent would silently drop
    every ingested vector from ``search --include-stream``."""
    index = _index(spark, tmp_path, {0: range(10, 15)}, "vec_id long, other string")
    with pytest.raises(AnalysisException):
        ingested_codes(spark, index).collect()
    with pytest.raises(AnalysisException):
        run_compact(_compact(index), spark)


def test_compact_rerun_after_kill_before_clear_appends_nothing(
    spark, tmp_path, monkeypatch
):
    index = _index(spark, tmp_path, {0: range(8, 13), 1: range(12, 15)})
    real_rmtree = shutil.rmtree

    def killed(path, *args, **kwargs):
        if str(path).endswith("codes_stream"):
            raise RuntimeError("killed before clearing codes_stream")
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", killed)
    with pytest.raises(RuntimeError, match="killed"):
        run_compact(_compact(index), spark)
    monkeypatch.undo()

    assert run_compact(_compact(index), spark) == {
        "n_compacted": 0,
        "stream_area": "cleared",
    }
    ids = [r["vec_id"] for r in spark.read.parquet(f"{index}/codes").collect()]
    assert sorted(ids) == list(range(15))
