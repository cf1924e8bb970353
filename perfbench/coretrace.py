"""Single-process extraction oracle and Spark-free per-stage core timers.

``oracle_rows`` runs ``core.extract_document`` + ``core.convert.result_to_row``
on every document -- exactly what the fused pandas UDF runs per document --
and returns rows in the extraction output's shape.  With ``trace=True`` each
public ``core`` function is wrapped in a timer for the duration of the call,
and the layer self times (span minus child spans) come back alongside.

It runs in the benchmark's own process, before Spark starts, so the timers
measure single-process extraction with nothing else contending.
"""

from __future__ import annotations

import importlib
import time
from collections import defaultdict

_CORE = "coa_ocr_simple_spark.core."

# (layer, module, attribute): where each public core function is looked up by
# its callers; patching the caller's namespace is what makes the timer fire
TIMED = (
    ("decode", _CORE + "pipeline", "decode_media"),
    ("html_strip", _CORE + "pipeline", "strip_html"),
    ("classify", _CORE + "pipeline", "classify"),
    ("sections", _CORE + "pipeline", "extract_sections"),
    ("entities", _CORE + "pipeline", "extract_entities"),
    ("patterns", _CORE + "pipeline", "extract_entities_with_patterns"),
    ("fingerprint", _CORE + "pipeline", "similar_documents"),
    ("fingerprint", _CORE + "convert", "document_fingerprint"),
    ("discover", _CORE + "entities", "discover_fields"),
    ("tables", _CORE + "entities", "extract_test_results"),
    ("tables", _CORE + "convert", "rows_from_test_results"),
)
LAYERS = tuple(dict.fromkeys(layer for layer, _, _ in TIMED))


class StageTimer:
    """Nested spans: each span's self time is its duration minus the time
    its child spans cover."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self._child_s: list[float] = []

    def wrap(self, layer: str, fn):
        def timed(*args, **kwargs):
            self._child_s.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span = time.perf_counter() - t0
                self.self_s[layer] += span - self._child_s.pop()
                if self._child_s:
                    self._child_s[-1] += span

        return timed

    def install(self, targets):
        """Wrap each (layer, owner, attribute) in place; returns the undo
        callable."""
        saved = []
        for layer, owner, attr in targets:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            setattr(owner, attr, self.wrap(layer, fn))

        def undo() -> None:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

        return undo


def _extract(pipeline, convert, doc: dict, media: dict) -> dict:
    result = pipeline.extract_document(
        doc["doc_id"], doc["spans"], lambda ref: media.get(ref, ([], []))
    )
    row = {"doc_id": doc["doc_id"], **convert.result_to_row(result)}
    row["out_spans"] = result["out_spans"]
    row["n_spans"] = len(result["out_spans"])
    return row


def oracle_rows(docs: list[dict], media_rows: list[dict], trace: bool):
    """Returns (rows, core metrics); the metrics are empty when not tracing."""
    from coa_ocr_simple_spark.core import convert, pipeline

    media = {m["media_ref"]: (m["pages"] or [], m["ocr_pages"] or []) for m in media_rows}
    timer = StageTimer()
    core = [(layer, importlib.import_module(m), attr) for layer, m, attr in TIMED]
    undo = timer.install(core if trace else ())
    total = timer.wrap("total", lambda doc: _extract(pipeline, convert, doc, media))
    try:
        rows = [total(doc) for doc in docs]
    finally:
        undo()
    if not trace:
        return rows, {}
    self_s = timer.self_s
    metrics = {f"core.{layer}_s": self_s.get(layer, 0.0) for layer in LAYERS}
    # "total" is one span per document around extract_document+result_to_row;
    # its self time is the glue no core layer covers
    metrics["core.total_s"] = sum(self_s.values())
    metrics["core.coverage"] = 1 - self_s.get("total", 0.0) / metrics["core.total_s"]
    metrics["core.docs"] = len(docs)
    metrics["core.chars"] = sum(
        len("\n\n".join(s["text"] for s in r["out_spans"])) for r in rows
    )
    return rows, metrics
