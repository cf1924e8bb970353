"""Crash matrix for every in-place directory rewrite: forget's scrub (a
directory table, a single-file table, a codes_stream/batch=N dir),
sum-state compaction and HLL compaction.

Each operation first runs fault-free, recording the filesystem calls
it makes.  Then, for every k, a fresh copy runs with call k raising
(and, where call k is an ``rmtree``, with a variant that deletes one
data file before raising — a kill in the middle of the delete).  A
clean re-run must leave exactly the fault-free rows and no staging
dir behind.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter

from coa_ocr_simple_spark.jobs.forget import parse_args, run
from coa_ocr_simple_spark.streaming._sum_state import compact_state
from coa_ocr_simple_spark.streaming.sketch_stream import compact_hll_state

_FS_CALLS = [
    (shutil, "rmtree"),
    (shutil, "move"),
    (os, "replace"),
    (os, "remove"),
    (DataFrameWriter, "parquet"),  # the staging write
]
_REAL_REMOVE = os.remove


class Crash(RuntimeError):
    """The injected kill — not an OSError, which shutil.move catches."""


def _delete_one_data_file(path: str) -> None:
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    data = [f for f in files if f.endswith(".parquet")] or files
    if data:
        _REAL_REMOVE(data[0])


def _inject(mp, scope: str, fault_at: int | None = None, partial: bool = False):
    """Wrap the filesystem calls; count those whose path lies under
    ``scope`` and make counted call ``fault_at`` raise.  Returns the
    call log."""
    calls: list[str] = []
    for owner, name in _FS_CALLS:
        real = getattr(owner, name)

        def wrapper(*args, _real=real, _name=name, **kwargs):
            path = str(args[1] if _name == "parquet" else args[0])
            if os.path.abspath(path).startswith(scope):
                calls.append(_name)
                if len(calls) - 1 == fault_at:
                    if partial:
                        _delete_one_data_file(path)
                    raise Crash(f"{_name} #{fault_at}")
            return _real(*args, **kwargs)

        mp.setattr(owner, name, wrapper)
    return calls


def _hidden_dirs(roots):
    return [
        os.path.join(r, n)
        for r in roots
        for n in os.listdir(r)
        if n.startswith(".") and os.path.isdir(os.path.join(r, n))
    ]


def _matrix(spark, setup, op, rows, scope, roots):
    setup()
    with pytest.MonkeyPatch.context() as mp:
        calls = _inject(mp, scope)
        op()
    expected = rows()
    assert expected and calls
    cases = [(k, False) for k in range(len(calls))]
    cases += [(k, True) for k, c in enumerate(calls) if c == "rmtree"]
    for k, partial in cases:
        setup()
        with pytest.MonkeyPatch.context() as mp:
            _inject(mp, scope, k, partial)
            with pytest.raises(Crash):
                op()
        spark.catalog.clearCache()
        op()
        what = (k, calls[k], "partial" if partial else "before")
        assert rows() == expected, what
        assert _hidden_dirs(roots) == [], what


def _row_multiset(spark, *paths) -> Counter:
    return Counter(
        tuple(sorted(r.asDict().items()))
        for p in paths
        for r in spark.read.parquet(p).collect()
    )


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"text {i}") for i in ids], "doc_id long, text string"
    )


def _delete_list(spark, base, ids) -> str:
    dl = os.path.join(base, "deletes.parquet")
    _docs(spark, ids).select("doc_id").write.parquet(dl)
    return dl


def test_forget_directory_table_survives_any_crash(spark, tmp_path):
    base = str(tmp_path / "w")
    docs = os.path.join(base, "documents.parquet")
    dl = os.path.join(base, "deletes.parquet")

    def setup():
        _fresh(base)
        _docs(spark, range(20)).repartition(3).write.parquet(docs)
        _delete_list(spark, base, [3, 7, 11])

    _matrix(
        spark,
        setup,
        lambda: run(parse_args(["--delete-list", dl, "--documents", docs]), spark),
        lambda: _row_multiset(spark, docs),
        "/",
        [base],
    )


def test_forget_single_file_table_survives_any_crash(spark, tmp_path):
    base = str(tmp_path / "w")
    docs = os.path.join(base, "documents.parquet")
    dl = os.path.join(base, "deletes.parquet")

    def setup():
        _fresh(base)
        rows = [{"doc_id": i, "text": f"text {i}"} for i in range(20)]
        pq.write_table(pa.Table.from_pylist(rows), docs)
        _delete_list(spark, base, [3, 7])

    _matrix(
        spark,
        setup,
        lambda: run(parse_args(["--delete-list", dl, "--documents", docs]), spark),
        lambda: _row_multiset(spark, docs),
        "/",
        [base],
    )


def test_forget_codes_stream_batch_survives_any_crash(spark, tmp_path):
    """Faults land only in the streaming-ingest area's scrub: a crash
    that deleted ``batch=0`` before promoting its rewrite must not hide
    it from the re-run's ``batch=`` listing."""
    base = str(tmp_path / "w")
    index = os.path.join(base, "index")
    stream = os.path.join(index, "codes_stream")
    dl = os.path.join(base, "deletes.parquet")

    def codes(ids):
        return spark.createDataFrame(
            [(i, f"c{i}") for i in ids], "vec_id long, code string"
        )

    def setup():
        _fresh(base)
        spark.createDataFrame([("lloyd_l2", 64)], "coarse string, dim int").write.parquet(
            f"{index}/meta"
        )
        codes(range(10)).write.parquet(f"{index}/codes")
        codes(range(10, 20)).repartition(2).write.parquet(f"{stream}/batch=0")
        _delete_list(spark, base, [3, 12, 17])

    _matrix(
        spark,
        setup,
        lambda: run(parse_args(["--delete-list", dl, "--index", index]), spark),
        lambda: _row_multiset(spark, f"{index}/codes", stream),
        stream,
        [index, stream],
    )


def _partials(spark, state, schema, batches):
    _fresh(state)
    for b, rows in batches.items():
        spark.createDataFrame(rows, schema).write.parquet(f"{state}/batch={b}")


def test_compact_state_survives_any_crash(spark, tmp_path):
    state = str(tmp_path / "state")
    batches = {
        -1: [("a", 1)],
        0: [("a", 1), ("b", 10)],
        1: [("b", 5), ("c", 7)],
        2: [("a", 100)],  # highest batch: stays live
    }
    _matrix(
        spark,
        lambda: _partials(spark, state, "k string, v long", batches),
        lambda: compact_state(spark, state, ["k"], "v"),
        lambda: _row_multiset(spark, state),
        "/",
        [state],
    )


def test_compact_hll_state_survives_any_crash(spark, tmp_path):
    state = str(tmp_path / "state")
    batches = {
        0: [("web", 1, 3), ("web", 2, 1)],
        1: [("web", 1, 5), ("pdf", 7, 2)],
        2: [("pdf", 7, 1), ("pdf", 9, 4)],
    }
    _matrix(
        spark,
        lambda: _partials(spark, state, "source string, reg int, r int", batches),
        lambda: compact_hll_state(spark, state),
        lambda: _row_multiset(spark, state),
        "/",
        [state],
    )
