"""Sectionization — positional heading sort + slice (within one document).

Parity target: /root/reference/ai_document_processor.py:269-384
(``extract_sections``).  This is a *within-row* computation (SURVEY.md
§2.4): the only "sort" is over heading positions inside one string, so it
lives in pure Python and runs inside the extractor Arrow UDF, never as a
Spark-level sort.
"""

from __future__ import annotations

import re

from .patterns import (
    COA_PRODUCT_INFO_SECTION_PATTERNS,
    COA_RESULTS_SECTION_PATTERNS,
    COA_SPECS_SECTION_PATTERNS,
    SDS_SECTION_HEADING,
    TDS_APPLICATIONS_SECTION,
    TDS_PROPERTIES_SECTION,
)

Section = dict  # {"title": str, "content": str}


def _first_match_section(text: str, bank: list[str], title: str) -> Section | None:
    # ordered pattern list, first match wins (ai:339-346 et al.)
    for pattern in bank:
        m = re.search(pattern, text)
        if m:
            return {"title": title, "content": m.group(1)}
    return None


def extract_sections(text: str, doc_type: str) -> dict[str, Section]:
    sections: dict[str, Section] = {}
    if not text:
        return sections

    if doc_type == "sds":
        # numbered headings -> (num, title, pos), sorted by position; slice
        # between consecutive heading starts; duplicate numbers overwrite
        # (ai:276-302)
        starts: list[tuple[int, str, int]] = []
        for m in re.finditer(SDS_SECTION_HEADING, text):
            starts.append((int(m.group(1)), m.group(2).strip(), m.start()))
        starts.sort(key=lambda t: t[2])
        for i, (num, title, pos) in enumerate(starts):
            end = starts[i + 1][2] if i < len(starts) - 1 else len(text)
            sections[f"section_{num}"] = {
                "title": title,
                "content": text[pos:end].strip(),
            }

    elif doc_type == "tds":
        m = re.search(TDS_PROPERTIES_SECTION, text)
        if m:
            sections["technical_properties"] = {
                "title": "Technical Properties",
                "content": m.group(1),
            }
        m = re.search(TDS_APPLICATIONS_SECTION, text)
        if m:
            sections["applications"] = {
                "title": "Applications",
                "content": m.group(1),
            }

    elif doc_type == "coa":
        s = _first_match_section(text, COA_RESULTS_SECTION_PATTERNS, "Test Results")
        if s:
            sections["test_results"] = s
        s = _first_match_section(text, COA_SPECS_SECTION_PATTERNS, "Specifications")
        if s:
            sections["specifications"] = s
        s = _first_match_section(
            text, COA_PRODUCT_INFO_SECTION_PATTERNS, "Product Information"
        )
        if s:
            sections["product_information"] = s

    return sections
