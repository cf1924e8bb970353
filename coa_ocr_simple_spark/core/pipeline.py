"""Frozen per-document pipeline + the single-node oracle.

``process_document`` reproduces /root/reference/ai_document_processor.py:
1217-1268 under the frozen-config discipline of SURVEY.md §4.3.1 (no
mid-run state mutation; auto-training is an offline job — training.py).

``extract_document`` is the full span-level oracle: decode every span of
one document (text pass-through, HTML boilerplate strip, PDF/image media
decode), assemble the document text, run ``process_document``.  The Spark
pipeline calls exactly these functions from inside Arrow UDFs, so the
pytest parity check (out_spans + entities equality) verifies the
*distributed plumbing* — ordering, grouping, decode joins — against this
sequential reference run.

Span semantics (BASELINE.json invariant):
- out_spans = input spans in offset order, media/html spans replaced by
  their decoded/stripped text; ``offset`` re-normalized to 0..n-1 rank.
- document text = out_span texts joined with "\\n\\n" (page-break join;
  net-new rule, shared here by oracle and UDF).
"""

from __future__ import annotations

from .classify import classify
from .config import EMPTY_CONFIG, ModelConfig
from .decode import decode_media
from .entities import extract_entities, extract_entities_with_patterns
from .fingerprint import similar_documents
from .html_strip import strip_html
from .sections import extract_sections

SPAN_JOIN = "\n\n"


def process_document(text: str, config: ModelConfig = EMPTY_CONFIG) -> dict:
    """Classify -> sections -> rule entities -> trained-pattern entities ->
    merge (rule wins) -> similar docs (ai:1217-1268, minus the mid-run
    auto-train at ai:1249-1250 which is frozen out)."""
    if not text:
        return {
            "document_type": "unknown",
            "confidence": 0.0,
            "entities": {},
            "sections": {},
            "full_text": "",
        }

    doc_type, confidence = classify(text)
    sections = extract_sections(text, doc_type)
    entities = extract_entities(text, doc_type, config)
    for field_name, value in extract_entities_with_patterns(
        text, doc_type, config
    ).items():
        entities.setdefault(field_name, value)

    result = {
        "document_type": doc_type,
        "confidence": confidence,
        "entities": entities,
        "sections": sections,
        "full_text": text,
    }
    similar = similar_documents(text, doc_type, config)
    if similar:
        result["similar_documents"] = similar
    return result


def decode_span(kind, text, media_ref, media_lookup) -> str:
    """Decode one span to text.

    ``media_lookup``: media_ref -> (direct_pages, ocr_pages); only consulted
    for media kinds.  Unknown kinds decode to "" (defensive; the source
    filter normally excludes them — SURVEY.md §2.1 S2).
    """
    if kind == "text":
        return text or ""
    if kind == "html":
        return strip_html(text or "")
    if kind in ("pdf", "image"):
        direct, ocr = media_lookup(media_ref) if media_ref else ([], [])
        return decode_media(kind, direct, ocr)
    return ""


def extract_document(
    doc_id: str,
    spans: list[dict],
    media_lookup,
    config: ModelConfig = EMPTY_CONFIG,
) -> dict:
    """Single-node oracle for one document (sequential reference run)."""
    # defensive: drop null span entries (the input contract forbids them,
    # but the distributed path skips them, so the oracle must too)
    spans = [s for s in spans if s is not None and s.get("kind") is not None]
    ordered = sorted(spans, key=lambda s: s["offset"])
    out_spans = []
    for rank, span in enumerate(ordered):
        decoded = decode_span(
            span["kind"], span.get("text"), span.get("media_ref"), media_lookup
        )
        out_spans.append(
            {
                "kind": span["kind"],
                "text": decoded,
                "media_ref": span.get("media_ref"),
                "offset": rank,
            }
        )
    text = SPAN_JOIN.join(s["text"] for s in out_spans)
    result = process_document(text, config)
    return {
        "doc_id": doc_id,
        "out_spans": out_spans,
        "document_type": result["document_type"],
        "confidence": result["confidence"],
        "entities": result["entities"],
        "sections": result["sections"],
        "full_text": text,
    }
