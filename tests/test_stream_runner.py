"""The streaming runner: the continuous (``available_now=False``) path
gives the same output as the drain-and-stop path, and the package keeps
one query-start site, one ``batch=<id>`` sink and one directory-swap
protocol."""

from __future__ import annotations

import ast
import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq

from coa_ocr_simple_spark.streaming._sum_state import merged_state
from coa_ocr_simple_spark.streaming.quantile_stream import (
    run_streaming_length_quantiles,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "coa_ocr_simple_spark"
RUNNER = "streaming/_runner.py"
COMMIT = "sources/commit.py"


def _hist(spark, state):
    return sorted(
        tuple(r) for r in merged_state(spark, state, ["n_chars"], "cnt").collect()
    )


def test_continuous_run_matches_available_now(spark, tmp_path):
    inp = tmp_path / "docs"
    inp.mkdir()
    rows = [
        {"doc_id": i, "text": "x" * (i % 7), "lang": "en", "source": "web",
         "n_chars": i % 7}
        for i in range(40)
    ]
    pq.write_table(pa.Table.from_pylist(rows), str(inp / "a.parquet"))

    drained = str(tmp_path / "drained")
    run_streaming_length_quantiles(spark, str(inp), drained, str(tmp_path / "ck1"))

    live = str(tmp_path / "live")
    query = run_streaming_length_quantiles(
        spark, str(inp), live, str(tmp_path / "ck2"), available_now=False
    )
    try:
        assert query.isActive
        query.processAllAvailable()
    finally:
        query.stop()
    assert _hist(spark, live) == _hist(spark, drained)
    assert _hist(spark, live) == sorted(
        (n, sum(1 for r in rows if r["n_chars"] == n)) for n in range(7)
    )


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


class _BatchOverwrites(ast.NodeVisitor):
    """Names the innermost enclosing function of every
    ``...mode("overwrite")...parquet(path)`` call whose path mentions
    ``batch=``."""

    def __init__(self):
        self.scope, self.found = ["<module>"], []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_Call(self, node):
        func = node.func
        if (
            isinstance(func, ast.Attribute)
            and func.attr == "parquet"
            and "'overwrite'" in ast.dump(func.value)
            and any("batch=" in ast.dump(a) for a in node.args)
        ):
            self.found.append(self.scope[-1])
        self.generic_visit(node)


def _batch_overwrites(tree):
    visitor = _BatchOverwrites()
    visitor.visit(tree)
    return visitor.found


def test_one_query_start_one_batch_sink_one_swap():
    starts, sinks, swaps = [], [], []
    for rel, src in _sources():
        if re.search(r"awaitTermination|trigger\(\s*availableNow", src):
            starts.append(rel)
        sinks += [(rel, fn) for fn in _batch_overwrites(ast.parse(src))]
        if (rel.startswith("streaming/") or rel == "jobs/forget.py") and re.search(
            r"shutil\.(rmtree|move)|os\.replace|from shutil import", src
        ):
            swaps.append(rel)
    assert starts == [RUNNER]
    assert sinks == [(RUNNER, "write_batch")]
    assert swaps == []
    assert re.search(r"shutil\.rmtree", (PKG / COMMIT).read_text())
