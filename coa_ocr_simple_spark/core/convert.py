"""Result-dict -> output-table-row conversion.

One conversion, used by BOTH the single-node oracle (tests) and the
extractor Arrow UDF (pipeline), so the table boundary cannot drift
between them.  Canonical output schema (SURVEY.md §1.3):

  doc_type string, confidence double,
  entities map<string,string>            -- scalar fields only
  hazard_codes array<string>             -- sorted-unique (SURVEY §4.3.2)
  cas_numbers array<string>              -- sorted-unique
  test_results array<struct<test,specification,result>>  -- first-seen order
  sections map<string,struct<title,content>>
  fingerprint string
"""

from __future__ import annotations

from .fingerprint import document_fingerprint
from .tables import rows_from_test_results

_LIST_KEYS = ("hazard_codes", "cas_numbers")


def result_to_row(result: dict) -> dict:
    entities = result.get("entities", {})
    scalar_entities = {}
    test_results: list = []
    for key, value in entities.items():
        if key == "test_results" and isinstance(value, dict):
            test_results = rows_from_test_results(value)
        elif key in _LIST_KEYS:
            continue  # typed columns below
        elif isinstance(value, list):
            # reference UI adapter flattens stray list values (app.py:1506)
            scalar_entities[key] = ", ".join(str(v) for v in value)
        else:
            scalar_entities[key] = value if isinstance(value, str) else str(value)

    full_text = result.get("full_text", "")
    return {
        "doc_type": result.get("document_type", "unknown"),
        "confidence": float(result.get("confidence", 0.0)),
        "entities": scalar_entities,
        "hazard_codes": list(entities.get("hazard_codes", [])),
        "cas_numbers": list(entities.get("cas_numbers", [])),
        "test_results": test_results,
        "sections": {
            name: {"title": s.get("title", ""), "content": s.get("content", "")}
            for name, s in result.get("sections", {}).items()
        },
        "fingerprint": document_fingerprint(full_text) if full_text else "",
    }
