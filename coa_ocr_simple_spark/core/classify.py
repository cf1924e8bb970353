"""Document classification — pattern-hit scoring with strict-majority argmax.

Parity target: /root/reference/ai_document_processor.py:233-267
(``pattern_based_classification``).  The optional zero-shot ML fallback
(ai:204-231) is out of the parity path (SURVEY.md §2.3 C2); it only fires
when ``transformers`` is importable, which it deliberately is not here.

Pure function — no Spark imports.  Called both by the single-node oracle
and (over each Arrow batch) by the extractor Arrow UDF.
"""

from __future__ import annotations

import re

from .patterns import COA_CLASS_PATTERNS, SDS_CLASS_PATTERNS, TDS_CLASS_PATTERNS

_SDS_RX = [re.compile(p) for p in SDS_CLASS_PATTERNS]
_TDS_RX = [re.compile(p) for p in TDS_CLASS_PATTERNS]
_COA_RX = [re.compile(p) for p in COA_CLASS_PATTERNS]


def classify(text: str) -> tuple[str, float]:
    """Return ``(doc_type, confidence)``.

    Semantics (ai:233-267): zero hits -> ("unknown", 0.1); a bank wins only
    on a *strict* majority over both other banks, with confidence
    ``min(hits/bank_size, 0.95)``; any tie -> ("unknown", 0.3); empty text
    -> ("unknown", 0.0).
    """
    if not text:
        return "unknown", 0.0

    lower = text.lower()
    sds = sum(1 for rx in _SDS_RX if rx.search(lower))
    tds = sum(1 for rx in _TDS_RX if rx.search(lower))
    coa = sum(1 for rx in _COA_RX if rx.search(lower))

    if sds + tds + coa == 0:
        return "unknown", 0.1
    if sds > tds and sds > coa:
        return "sds", min(sds / len(_SDS_RX), 0.95)
    if tds > sds and tds > coa:
        return "tds", min(tds / len(_TDS_RX), 0.95)
    if coa > sds and coa > tds:
        return "coa", min(coa / len(_COA_RX), 0.95)
    return "unknown", 0.3
