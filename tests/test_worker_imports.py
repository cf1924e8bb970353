"""The zipimport shim that keeps UDF tasks from re-parsing unchanged zips.

``importlib.invalidate_caches()`` runs at the start of every PySpark task.
On CPython < 3.12 each zipimporter then re-reads its archive's directory;
with the shim installed an unchanged archive is not re-read, and a
rewritten one still is.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pytest

from coa_ocr_simple_spark import _worker_imports

eager_zipimport_only = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimport re-reads lazily on Python >= 3.12"
)


@pytest.fixture
def read_calls(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    calls: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@eager_zipimport_only
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch, read_calls):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _worker_imports._original)
    monkeypatch.setattr(_worker_imports, "_stamps", {})
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("zmod_a").X == 1
    importlib.invalidate_caches()
    assert archive in read_calls  # the stdlib method re-reads it every time

    _worker_imports.install()
    _worker_imports.install()  # a second install is harmless
    read_calls.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_calls == []

    _write_zip(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert read_calls == [archive]
    assert importlib.import_module("zmod_b").Y == 2


def test_install_is_a_no_op_on_lazy_zipimport(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _worker_imports._original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    _worker_imports.install()
    assert zipimport.zipimporter.invalidate_caches is _worker_imports._original


def _pandas_udf(count):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def rereads(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        n = count()
        for ids in batches:
            yield pd.Series([n] * len(ids))

    return rereads


def _arrow_udf(count):
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("long")
    def rereads(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        n = count()
        for ids in batches:
            yield pa.array([n] * len(ids), type=pa.int64())

    return rereads


@eager_zipimport_only
@pytest.mark.parametrize(
    "make_udf", [_pandas_udf, _arrow_udf], ids=["pandas_udf", "arrow_udf"]
)
def test_udf_tasks_reread_no_zip_directory(spark, make_udf):
    """Each of 8 tasks re-runs the per-task ``invalidate_caches`` inside a
    UDF that imports the package: no archive directory is re-read.  Both
    UDF families the package ships are covered: Arrow (every core UDF)
    and pandas (the BPE encoder, the mapInPandas and applyInPandasWithState
    sites)."""

    def count() -> int:
        import importlib
        import zipimport

        import coa_ocr_simple_spark  # noqa: F401  (installs the shim)

        original = zipimport._read_directory
        calls = []
        zipimport._read_directory = lambda archive: calls.append(archive) or original(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        return len(calls)

    df = spark.range(0, 64, numPartitions=8).select(make_udf(count)("id").alias("n"))
    assert df.agg({"n": "max"}).first()[0] == 0
