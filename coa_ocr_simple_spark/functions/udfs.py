"""Vectorized Arrow UDF factory — the ONLY Python that runs on executors.
No row-at-a-time Python UDFs anywhere (BASELINE.json input_hint).

``row_udf`` is the one shape every core-calling UDF of the package takes:
a per-row Python function plus its Spark return type, run over whole
Arrow batches.  Each batch goes Arrow -> Python values -> Arrow, with the
result array built once at the declared Arrow type; no pandas frame sits
in between.  The UDF uses the ``Iterator`` form, so per-worker setup
(model-config parse, regex compilation via module import) is amortized
across Arrow batches and, with reused Python workers, across tasks — the
idiomatic equivalent of the reference's lazy singleton init
(reference ai_document_processor.py:190-202; SURVEY.md §4.1).
Per-TASK setup is not amortized: every task re-reads its command and
calls ``importlib.invalidate_caches()``.  On Python < 3.12 that re-parses
every zip archive on the worker's path, except the unchanged ones that
``_worker_imports`` (installed on package import) lets skip the re-read.

The extractor UDF delegates to ``coa_ocr_simple_spark.core`` — the same
functions the test oracle runs single-node, so oracle ≡ pipeline by
construction.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from functools import lru_cache
from typing import Any

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, DataType, IntegerType, StructField, StructType

from ..core import ModelConfig, extract_document
from ..core.convert import result_to_row
from .schemas import EXTRACT_RESULT, SPAN


def row_udf(return_type: DataType, fn: Callable[[Any], Any]):
    """An Arrow UDF of one column that returns ``[fn(v) for v in batch]``
    for each Arrow batch, nulls included, typed as ``return_type``.
    Struct results are dicts (keys outside the struct are ignored), maps
    are dicts (insertion order kept).  The UDF carries ``fn``'s name."""
    arrow_type = to_arrow_type(return_type)

    def udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for arr in batches:
            yield pa.array([fn(v) for v in arr.to_pylist()], type=arrow_type)

    udf.__name__ = udf.__qualname__ = fn.__name__
    return arrow_udf(udf, return_type)


@lru_cache(maxsize=8)
def _configs_from_json(configs_json: str) -> tuple[ModelConfig, dict[str, ModelConfig]]:
    default, tenants = json.loads(configs_json)
    return ModelConfig.from_json(default), {
        tenant: ModelConfig.from_json(c) for tenant, c in tenants.items()
    }


def make_fused_extractor_udf(config: ModelConfig, tenant_configs: dict[str, ModelConfig]):
    """struct(raw span array (with joined media pages), tenant) -> full
    extraction result.

    One Python crossing per document: the UDF sorts the spans, decodes
    each (text pass-through, HTML strip, PDF/image page-cap decode),
    assembles the document text, and runs the frozen process_document
    under ``tenant_configs.get(tenant, config)`` — i.e. it calls exactly
    the oracle's ``extract_document``.  The configs travel as one JSON
    string, parsed once per worker.  The assembled text itself is not
    returned: the plan rebuilds full_text JVM-side from out_spans when
    asked, so it never crosses Arrow.
    """
    schema = StructType(
        [StructField("out_spans", ArrayType(SPAN))]
        + list(EXTRACT_RESULT.fields)
        + [StructField("n_spans", IntegerType())]
    )
    configs_json = json.dumps(
        [config.to_json(), {tenant: c.to_json() for tenant, c in tenant_configs.items()}]
    )

    def fused_extract(doc: dict) -> dict:
        default, by_tenant = _configs_from_json(configs_json)
        spans = [
            s for s in doc["raw_spans"] or [] if s is not None and s["kind"] is not None
        ]
        pages_by_ref = {
            s["media_ref"]: (s["pages"] or [], s["ocr_pages"] or [])
            for s in spans
            if s["media_ref"] is not None
        }
        oracle = extract_document(
            "",
            spans,
            lambda ref: pages_by_ref.get(ref, ([], [])),
            by_tenant.get(doc["tenant"], default),
        )
        row = result_to_row(oracle)
        row["out_spans"] = oracle["out_spans"]
        row["n_spans"] = len(oracle["out_spans"])
        return row

    return row_udf(schema, fused_extract)
