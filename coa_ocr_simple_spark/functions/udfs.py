"""Vectorized pandas/Arrow UDF factories — the ONLY Python that runs on
executors.  No per-row Python UDFs anywhere (BASELINE.json input_hint).

All UDFs use the ``Iterator`` forms so per-worker setup (model-config
parse, regex compilation via module import) is amortized across Arrow
batches and, with reused Python workers, across tasks — the idiomatic
equivalent of the reference's lazy singleton init
(/root/reference/ai_document_processor.py:190-202; SURVEY.md §4.1).
Per-TASK setup is not amortized: every task re-reads its command and
calls ``importlib.invalidate_caches()``.  On Python < 3.12 that re-parses
every zip archive on the worker's path, except the unchanged ones that
``_worker_imports`` (installed on package import) lets skip the re-read.

Every UDF delegates to ``coa_ocr_simple_spark.core`` — the same functions
the test oracle runs single-node, so oracle ≡ pipeline by construction.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..core import ModelConfig, process_document, strip_html
from ..core.convert import result_to_row
from ..core.decode import decode_media
from .schemas import EXTRACT_RESULT


@lru_cache(maxsize=8)
def _config_from_json(config_json: str) -> ModelConfig:
    return ModelConfig.from_json(config_json)


def make_decode_media_udf():
    """(kind, pages, ocr_pages) -> decoded text (pdf/image spans).

    Page caps + headers + the direct-text acceptance gate live in
    core.decode (app.py:416-430, 786-812 semantics).
    """

    @pandas_udf(StringType())
    def decode_media_udf(
        batches: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for kinds, pages, ocr_pages in batches:
            yield pd.Series(
                [
                    decode_media(
                        kind,
                        list(pg) if pg is not None else None,
                        list(og) if og is not None else None,
                    )
                    for kind, pg, og in zip(kinds, pages, ocr_pages)
                ],
                dtype="object",
            )

    return decode_media_udf


def make_strip_html_udf():
    """html body -> main-content text (tag-density boilerplate strip)."""

    @pandas_udf(StringType())
    def strip_html_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for bodies in batches:
            yield pd.Series(
                [strip_html(b) if b else "" for b in bodies], dtype="object"
            )

    return strip_html_udf


def make_fused_extractor_udf(config_json: str):
    """raw span array (with joined media pages) -> full extraction result.

    One Python crossing per document instead of two (decode UDF + extract
    UDF): the UDF sorts the spans, decodes each (text pass-through, HTML
    strip, PDF/image page-cap decode), assembles the document text, and
    runs the frozen process_document — i.e. it calls exactly the oracle's
    ``extract_document``.  Halves the Arrow traffic and removes one whole
    stage of JVM<->Python waiting; measured ~10% wall at 16 cores.
    """
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from ..core.pipeline import extract_document
    from .schemas import SPAN

    schema = StructType(
        [StructField("out_spans", ArrayType(SPAN))]
        + list(EXTRACT_RESULT.fields)
        + [StructField("n_spans", IntegerType()), StructField("full_text", StringType())]
    )

    @pandas_udf(schema)
    def fused_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        config = _config_from_json(config_json)
        columns = [f.name for f in schema.fields]
        for span_lists in batches:
            rows = []
            for raw in span_lists:
                spans = []
                pages_by_ref = {}
                for s in raw if raw is not None else []:
                    if s is None or s.get("kind") is None:
                        continue
                    spans.append(
                        {
                            "kind": s["kind"],
                            "text": s["text"],
                            "media_ref": s["media_ref"],
                            "offset": s["offset"],
                        }
                    )
                    if s["media_ref"] is not None:
                        pages_by_ref[s["media_ref"]] = (
                            list(s["pages"]) if s["pages"] is not None else [],
                            list(s["ocr_pages"]) if s["ocr_pages"] is not None else [],
                        )
                oracle = extract_document(
                    "", spans, lambda ref: pages_by_ref.get(ref, ([], [])), config
                )
                row = result_to_row(oracle)
                row["out_spans"] = oracle["out_spans"]
                row["n_spans"] = len(oracle["out_spans"])
                row["full_text"] = oracle["full_text"]
                rows.append(row)
            yield pd.DataFrame(rows, columns=columns)

    return fused_udf


def make_extractor_udf(config_json: str):
    """assembled document text -> EXTRACT_RESULT struct.

    ``config_json`` is the frozen model config, captured by value in the
    UDF closure (small; shipped once per task) and parsed once per worker
    via lru_cache — never mutated mid-job (SURVEY.md §4.3.1).
    """

    @pandas_udf(EXTRACT_RESULT)
    def extract_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        config = _config_from_json(config_json)
        for texts in batches:
            rows = [
                result_to_row(process_document(t if t is not None else "", config))
                for t in texts
            ]
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in EXTRACT_RESULT.fields],
            )

    return extract_udf
