"""Entity extraction — ordered regex banks, dynamic fields, auto-discovery.

Parity targets in /root/reference/ai_document_processor.py:
- ``extract_entities``            ai:386-555   (per-type field banks)
- ``_extract_product_name``       ai:557-573
- ``_discover_fields``            ai:712-787   (key-value + common-field +
                                                table auto-discovery)
- ``extract_entities_with_patterns`` ai:1193-1215 (trained-pattern pass)

All pure Python over one document string + a frozen ModelConfig — shared
verbatim by the single-node oracle and the extractor Arrow UDF.

Canonicalization (SURVEY.md §4.3.2): the reference materializes
``hazard_codes``/``cas_numbers`` via ``list(set(...))`` whose order is
nondeterministic; this engine emits sorted-unique, and the parity tests
sort the reference side before comparing.
"""

from __future__ import annotations

import re

from .config import ModelConfig
from .patterns import (
    CAS_GENERAL,
    COA_APPEARANCE_PATTERNS,
    COA_BATCH_PATTERNS,
    COA_CAS_PATTERNS,
    COA_DENSITY_PATTERNS,
    COA_PURITY_PATTERNS,
    COMMON_FIELDS,
    DISCOVERY_STOPWORDS,
    DISCOVERY_TABLE_HEADERS,
    KEY_VALUE_DISCOVERY_PATTERNS,
    PRODUCT_NAME_PATTERNS,
    SDS_EMERGENCY,
    SDS_HAZARD_CODES,
    SDS_MANUFACTURER,
    TDS_DENSITY,
    TDS_FLASH_POINT,
    TDS_STORAGE,
    TDS_VISCOSITY,
)
from .tables import extract_test_results


from functools import lru_cache


@lru_cache(maxsize=4096)
def _rx(pattern: str):
    """Compile-once cache for bank patterns.

    Python's builtin re cache tops out at 512 entries and pays a
    per-call args-parse; the extraction banks + discovery patterns are hot
    enough (dozens of searches per document at 10^12 docs) that the
    explicit cache is a measurable win inside the Arrow UDFs."""
    return re.compile(pattern)


def _first_match(text: str, bank: list[str]) -> str | None:
    for pattern in bank:
        m = _rx(pattern).search(text)
        if m:
            return m.group(1).strip()
    return None


def extract_product_name(text: str) -> str | None:
    return _first_match(text, PRODUCT_NAME_PATTERNS)


def _extract_sds(text: str, entities: dict) -> None:
    codes = _rx(SDS_HAZARD_CODES).findall(text)
    if codes:
        entities["hazard_codes"] = sorted(set(codes))
    m = _rx(SDS_EMERGENCY).search(text)
    if m:
        entities["emergency_contact"] = m.group(1).strip()
    m = _rx(SDS_MANUFACTURER).search(text)
    if m:
        entities["manufacturer"] = m.group(1).strip()
    cas = _rx(CAS_GENERAL).findall(text)
    if cas:
        entities["cas_numbers"] = sorted(set(cas))


def _extract_tds(text: str, entities: dict) -> None:
    for field_name, pattern in (
        ("density", TDS_DENSITY),
        ("viscosity", TDS_VISCOSITY),
        ("flash_point", TDS_FLASH_POINT),
        ("storage_conditions", TDS_STORAGE),
    ):
        m = _rx(pattern).search(text)
        if m:
            entities[field_name] = m.group(1).strip()


def _extract_coa(text: str, entities: dict, config: ModelConfig) -> None:
    batch = _first_match(text, COA_BATCH_PATTERNS)
    if batch is not None:
        # stored under both keys for compatibility (ai:453-454)
        entities["batch_number"] = batch
        entities["lot_number"] = batch
    for field_name, bank in (
        ("cas_number", COA_CAS_PATTERNS),
        ("appearance", COA_APPEARANCE_PATTERNS),
        ("density", COA_DENSITY_PATTERNS),
        ("purity", COA_PURITY_PATTERNS),
    ):
        value = _first_match(text, bank)
        if value is not None:
            entities[field_name] = value

    # dynamic trained-field extraction (ai:510-530): custom pattern if
    # trained, else the default "field name: value" pattern
    schema = config.document_schemas.get("coa")
    if schema:
        custom = config.field_patterns.get("coa", {})
        for field_name in schema.get("required_fields", []):
            if field_name in entities:
                continue
            pattern = custom.get(
                field_name,
                r"(?i)" + field_name.replace("_", r"\s+") + r"\s*[:.]\s*([^\n]+)",
            )
            # defensive vs the reference (ai:521-524 has no guard): a bad
            # custom pattern must not kill a 10^12-doc job; skip it like the
            # trained-pattern pass does (ai:1208-1213)
            try:
                m = _rx(pattern).search(text)
            except re.error:
                continue
            if m:
                entities[field_name] = m.group(1).strip()

    test_results = extract_test_results(text)
    if test_results:
        entities["test_results"] = test_results


def discover_fields(
    text: str, doc_type: str, already_trained: frozenset | set
) -> dict:
    """Auto-discovery (ai:712-787): key-value lines, common-field banks,
    then table-structure detection.  Frozen-config variant: the
    ``already_trained`` set comes from the immutable job config instead of
    being mutated mid-run (SURVEY.md §4.3.1)."""
    discovered: dict = {}
    if not text or len(text) < 50:
        return discovered

    for pattern in KEY_VALUE_DISCOVERY_PATTERNS:
        for m in _rx(pattern).finditer(text):
            key = m.group(1).strip()
            value = m.group(2).strip()
            if not value or len(value) < 2:
                continue
            field_name = key.lower().replace(" ", "_").replace("-", "_")
            if field_name in DISCOVERY_STOPWORDS:
                continue
            if field_name in already_trained:
                continue
            if field_name in discovered:
                continue
            discovered[field_name] = value

    for field_name, bank in COMMON_FIELDS.items():
        if field_name in discovered or field_name in already_trained:
            continue
        for pattern in bank:
            m = _rx(pattern).search(text)
            if m:
                discovered[field_name] = m.group(1).strip()
                break

    if "test_results" not in discovered and "test_results" not in already_trained:
        if any(_rx(p).search(text) for p in DISCOVERY_TABLE_HEADERS):
            test_results = extract_test_results(text)
            if test_results:
                discovered["test_results"] = test_results

    return discovered


def extract_entities(text: str, doc_type: str, config: ModelConfig) -> dict:
    """Rule-based pass (ai:386-555) with frozen-config discovery."""
    entities: dict = {}
    if not text:
        return entities

    product_name = extract_product_name(text)
    if product_name:
        entities["product_name"] = product_name

    if doc_type == "sds":
        _extract_sds(text, entities)
    elif doc_type == "tds":
        _extract_tds(text, entities)
    elif doc_type == "coa":
        _extract_coa(text, entities, config)

    for field_name, value in discover_fields(
        text, doc_type, config.auto_trained(doc_type)
    ).items():
        entities.setdefault(field_name, value)

    return entities


def extract_entities_with_patterns(
    text: str, doc_type: str, config: ModelConfig
) -> dict:
    """Trained-pattern pass (ai:1193-1215); bad trained patterns are
    skipped, matching the reference's per-pattern try/except."""
    entities: dict = {}
    if not text or not doc_type or doc_type not in config.document_schemas:
        return entities
    for field_name, pattern in config.field_patterns.get(doc_type, {}).items():
        try:
            m = _rx(pattern).search(text)
            if m:
                entities[field_name] = m.group(1).strip()
        except Exception:
            continue
    return entities
