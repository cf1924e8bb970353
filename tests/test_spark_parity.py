"""The core invariant (FIXTURES.md §5, SURVEY.md §5.2.2): the distributed
pipeline's output equals the single-node oracle per document —

- out_spans as ordered sequences of (kind, text, media_ref, offset), and
- doc_type / confidence / entities / code lists / test_results / sections,
- full_text when include_full_text is set.

The oracle is a sequential run of coa_ocr_simple_spark.core; the pipeline
runs the same functions inside Arrow UDFs — so this test verifies the
Spark plumbing: explode order recovery, skew-spread repartition, media
join, groupBy reassembly, Arrow struct marshalling.
"""

from __future__ import annotations

import pytest

from coa_ocr_simple_spark.core import EMPTY_CONFIG, extract_document
from coa_ocr_simple_spark.core.convert import result_to_row
from coa_ocr_simple_spark.plans.extract_plan import ExtractOptions, build_extract_plan


def _oracle_rows(corpus) -> dict[str, dict]:
    rows = {}
    for doc in corpus["builder"].docs:
        oracle = extract_document(
            doc["doc_id"], doc["spans"], corpus["lookup"], EMPTY_CONFIG
        )
        row = result_to_row(oracle)
        row["out_spans"] = oracle["out_spans"]
        rows[doc["doc_id"]] = row
    return rows


def _pipeline_rows(spark, parity_corpus, **options) -> dict[str, dict]:
    docs = spark.read.parquet(parity_corpus["docs_path"])
    media = spark.read.parquet(parity_corpus["media_path"])
    result = build_extract_plan(
        docs,
        media,
        options=ExtractOptions(spread_partitions=16, run_id="parity", **options),
    )
    return {r["doc_id"]: r.asDict(recursive=True) for r in result.collect()}


@pytest.fixture(scope="module", params=["fused"])
def pipeline_rows(spark, parity_corpus):
    return _pipeline_rows(spark, parity_corpus)


def test_every_document_extracted_exactly_once(spark, parity_corpus, pipeline_rows):
    expected_ids = {d["doc_id"] for d in parity_corpus["builder"].docs}
    assert set(pipeline_rows) == expected_ids


def test_span_sequence_equality(parity_corpus, pipeline_rows):
    """Per-row invariant vs the oracle: (kind, text, media_ref, order)."""
    oracle = _oracle_rows(parity_corpus)
    for doc_id, expected in oracle.items():
        actual = pipeline_rows[doc_id]["out_spans"]
        expected_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in expected["out_spans"]
        ]
        actual_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in actual
        ]
        assert actual_spans == expected_spans, doc_id


def test_extraction_result_equality(parity_corpus, pipeline_rows):
    oracle = _oracle_rows(parity_corpus)
    for doc_id, expected in oracle.items():
        actual = pipeline_rows[doc_id]
        assert actual["doc_type"] == expected["doc_type"], doc_id
        assert actual["confidence"] == pytest.approx(expected["confidence"]), doc_id
        assert actual["entities"] == expected["entities"], doc_id
        assert actual["hazard_codes"] == expected["hazard_codes"], doc_id
        assert actual["cas_numbers"] == expected["cas_numbers"], doc_id
        assert actual["test_results"] == expected["test_results"], doc_id
        assert actual["sections"] == expected["sections"], doc_id
        assert actual["fingerprint"] == expected["fingerprint"], doc_id


def test_written_map_keys_keep_the_oracle_order(spark, parity_corpus, tmp_path):
    """The entities/sections maps of the written parquet hold their keys
    in ``result_to_row``'s insertion order.  The order is read in Spark:
    a collected map passes through a Java hash map and loses it."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(parity_corpus["docs_path"])
    media = spark.read.parquet(parity_corpus["media_path"])
    out = str(tmp_path / "extracted")
    build_extract_plan(docs, media, options=ExtractOptions(spread_partitions=16)).write.parquet(out)
    keys = spark.read.parquet(out).select(
        "doc_id", F.map_keys("entities").alias("e"), F.map_keys("sections").alias("s")
    )
    got = {r["doc_id"]: (r["e"], r["s"]) for r in keys.collect()}
    want = {
        doc_id: (list(row["entities"]), list(row["sections"]))
        for doc_id, row in _oracle_rows(parity_corpus).items()
    }
    assert got == want
    assert any(len(e) > 1 for e, _ in want.values())
    assert any(len(s) > 1 for _, s in want.values())


def test_lineage_columns_present(pipeline_rows):
    for row in pipeline_rows.values():
        assert row["_run_id"] == "parity"
        assert isinstance(row["_partition_id"], int)


def test_full_text_equals_oracle(spark, parity_corpus):
    """include_full_text rebuilds the document text JVM-side from
    out_spans; it must equal the oracle's assembled text for every doc."""
    rows = _pipeline_rows(spark, parity_corpus, include_full_text=True)
    expected = {
        doc["doc_id"]: extract_document(
            doc["doc_id"], doc["spans"], parity_corpus["lookup"], EMPTY_CONFIG
        )["full_text"]
        for doc in parity_corpus["builder"].docs
    }
    assert {d: r["full_text"] for d, r in rows.items()} == expected
