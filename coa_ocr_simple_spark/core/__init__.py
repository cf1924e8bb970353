"""Pure-Python frozen reference semantics — zero Spark dependencies.

One implementation, used twice (SURVEY.md §7.1): these functions ARE the
single-node oracle in tests, and the extractor/decoder Arrow UDFs call
exactly them on the executors.
"""

from .classify import classify
from .config import EMPTY_CONFIG, ModelConfig
from .decode import DeterministicMediaStore, decode_image, decode_media, decode_pdf
from .entities import (
    discover_fields,
    extract_entities,
    extract_entities_with_patterns,
    extract_product_name,
)
from .fingerprint import document_fingerprint, fingerprint_similarity, similar_documents
from .html_strip import strip_html
from .pipeline import SPAN_JOIN, decode_span, extract_document, process_document
from .sections import extract_sections
from .tables import extract_test_results, rows_from_test_results

__all__ = [
    "classify",
    "ModelConfig",
    "EMPTY_CONFIG",
    "decode_media",
    "decode_pdf",
    "decode_image",
    "DeterministicMediaStore",
    "discover_fields",
    "extract_entities",
    "extract_entities_with_patterns",
    "extract_product_name",
    "document_fingerprint",
    "fingerprint_similarity",
    "similar_documents",
    "strip_html",
    "process_document",
    "extract_document",
    "decode_span",
    "SPAN_JOIN",
    "extract_sections",
    "extract_test_results",
    "rows_from_test_results",
]
