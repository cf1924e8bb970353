"""``row_udf``: one Arrow UDF of a per-row function gives exactly
``[fn(v) for v in values]`` — nulls, empty strings, several Arrow batches,
nested nulls and map key order included."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

import coa_ocr_simple_spark
from coa_ocr_simple_spark.functions.udfs import row_udf

PACKAGE = Path(coa_ocr_simple_spark.__file__).parent

INNER = StructType([StructField("x", StringType()), StructField("n", IntegerType())])


def _udf_column(
    spark, values, value_type, return_type, fn, partitions=2, then=lambda c: c
):
    """``fn`` over ``values`` through Spark (then ``then`` on the result
    column), in input order."""
    df = spark.createDataFrame(
        list(enumerate(values)),
        StructType([StructField("i", IntegerType()), StructField("v", value_type)]),
    ).repartition(partitions)
    out = df.select("i", then(row_udf(return_type, fn)(F.col("v"))).alias("r"))
    return [r["r"] for r in sorted(out.collect(), key=lambda r: r["i"])]


def _shout(t):
    return None if t is None else t.upper() + "!"


def test_null_and_empty_string(spark):
    values = ["abc", None, "", "x y"]
    got = _udf_column(spark, values, StringType(), StringType(), _shout)
    assert got == [_shout(v) for v in values] == ["ABC!", None, "!", "X Y!"]


def test_many_batches_keep_every_row(spark):
    assert int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) == 2048
    values = [None if i % 97 == 0 else "d" * (i % 13) for i in range(5000)]

    def length(t):
        return -1 if t is None else len(t)

    # one partition: 5000 rows cross two Arrow batch boundaries in one task
    got = _udf_column(spark, values, StringType(), IntegerType(), length, partitions=1)
    assert got == [length(v) for v in values]


def test_struct_with_null_nested_field(spark):
    values = [{"x": "a", "n": 1}, {"x": None, "n": 2}, {"x": "c", "n": None}, None]
    out_type = StructType(
        [StructField("inner", INNER), StructField("label", StringType())]
    )

    def wrap(s):
        if s is None:
            return {"inner": None, "label": None}
        return {"inner": {"x": s["x"], "n": s["n"]}, "label": s["x"]}

    got = _udf_column(spark, values, INNER, out_type, wrap)
    assert [r.asDict(recursive=True) for r in got] == [wrap(v) for v in values]


def test_map_of_struct_keeps_key_order(spark):
    values = ["b a c", "", None, "z y x w"]
    out_type = MapType(StringType(), INNER)

    def index(t):
        return {w: {"x": w.upper(), "n": i} for i, w in enumerate((t or "").split())}

    # collect() hands maps to Python through a hash map, so the key order
    # is read in Spark, as the parquet writer sees it
    got = _udf_column(
        spark, values, StringType(), out_type, index,
        then=lambda m: F.arrays_zip(F.map_keys(m), F.map_values(m)),
    )
    assert [[(k, s.asDict()) for k, s in items] for items in got] == [
        list(index(v).items()) for v in values
    ]
    assert [k for k, _ in got[3]] == ["z", "y", "x", "w"]


def test_udf_is_named_after_the_row_function(spark):
    df = spark.createDataFrame([("a",)], ["v"]).select(
        row_udf(StringType(), _shout)(F.col("v"))
    )
    assert df.columns == ["_shout(v)"]
    assert "ArrowEvalPython [_shout(" in df._jdf.queryExecution().executedPlan().toString()


def test_udfs_are_declared_in_one_place():
    """Every core-calling UDF goes through ``row_udf``; only the BPE
    encoder, whose word cache spans a whole batch, keeps its own."""
    sites = sorted(
        path.relative_to(PACKAGE).as_posix()
        for path in PACKAGE.rglob("*.py")
        if re.search(r"\b(pandas|arrow)_udf\s*\(", path.read_text(encoding="utf-8"))
    )
    assert sites == ["functions/udfs.py", "plans/bpe.py"]
