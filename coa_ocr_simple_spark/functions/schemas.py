"""Spark schemas for every table and UDF boundary in the engine."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SPAN = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

# input table (BASELINE.json input_hint)
DOCUMENTS = StructType(
    [StructField("doc_id", StringType()), StructField("spans", ArrayType(SPAN))]
)

# deterministic media store (FIXTURES.md §2)
MEDIA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("pages", ArrayType(StringType())),
        StructField("ocr_pages", ArrayType(StringType())),
    ]
)

TEST_RESULT = StructType(
    [
        StructField("test", StringType()),
        StructField("specification", StringType()),
        StructField("result", StringType()),
    ]
)

SECTION = StructType(
    [StructField("title", StringType()), StructField("content", StringType())]
)

# extractor Arrow-UDF return struct (core/convert.py result_to_row)
EXTRACT_RESULT = StructType(
    [
        StructField("doc_type", StringType()),
        StructField("confidence", DoubleType()),
        StructField("entities", MapType(StringType(), StringType())),
        StructField("hazard_codes", ArrayType(StringType())),
        StructField("cas_numbers", ArrayType(StringType())),
        StructField("test_results", ArrayType(TEST_RESULT)),
        StructField("sections", MapType(StringType(), SECTION)),
        StructField("fingerprint", StringType()),
    ]
)

# checkpoint / lineage table (SURVEY.md §4.2.2)
CHECKPOINT = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("doc_type", StringType()),
        StructField("n_docs", LongType()),
        StructField("n_spans", LongType()),
        StructField("status", StringType()),
    ]
)
