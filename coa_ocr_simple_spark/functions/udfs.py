"""Vectorized pandas/Arrow UDF factory — the ONLY Python that runs on
executors.  No per-row Python UDFs anywhere (BASELINE.json input_hint).

The UDF uses the ``Iterator`` form so per-worker setup (model-config
parse, regex compilation via module import) is amortized across Arrow
batches and, with reused Python workers, across tasks — the idiomatic
equivalent of the reference's lazy singleton init
(/root/reference/ai_document_processor.py:190-202; SURVEY.md §4.1).
Per-TASK setup is not amortized: every task re-reads its command and
calls ``importlib.invalidate_caches()``.  On Python < 3.12 that re-parses
every zip archive on the worker's path, except the unchanged ones that
``_worker_imports`` (installed on package import) lets skip the re-read.

The UDF delegates to ``coa_ocr_simple_spark.core`` — the same functions
the test oracle runs single-node, so oracle ≡ pipeline by construction.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from ..core import ModelConfig, extract_document
from ..core.convert import result_to_row
from .schemas import EXTRACT_RESULT, SPAN


@lru_cache(maxsize=8)
def _config_from_json(config_json: str) -> ModelConfig:
    return ModelConfig.from_json(config_json)


def make_fused_extractor_udf(config_json: str):
    """raw span array (with joined media pages) -> full extraction result.

    One Python crossing per document: the UDF sorts the spans, decodes
    each (text pass-through, HTML strip, PDF/image page-cap decode),
    assembles the document text, and runs the frozen process_document —
    i.e. it calls exactly the oracle's ``extract_document``.  The
    assembled text itself is not returned: the plan rebuilds full_text
    JVM-side from out_spans when asked, so it never crosses Arrow.
    """
    schema = StructType(
        [StructField("out_spans", ArrayType(SPAN))]
        + list(EXTRACT_RESULT.fields)
        + [StructField("n_spans", IntegerType())]
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
                rows.append(row)
            yield pd.DataFrame(rows, columns=columns)

    return fused_udf
