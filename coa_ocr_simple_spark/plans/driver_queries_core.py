"""Wave-4 driver queries: DIRECT oracles for the extraction internals.

Round-1 verdict: sectionization (X1-X3), table parse (T1-T3), discovery
(D1) and the SDS multi-match arrays (P3) were verified only by reference-
parity pytest — they reached the driver solely through the rows-only
``extract_pipeline``.  These queries expose each internal as a countable
projection the DuckDB oracle can reproduce exactly:

- ``table_parse_rows``   — extract_test_results exploded to one row per
  (doc_id, test, specification, result), dict last-wins mirrored via a
  last-line-wins window (reference ai_document_processor.py:575-660);
- ``section_names``      — per-doc section count + sorted-joined section
  keys for the classified doc type (ai:269-384);
- ``discovered_keys``    — per-doc auto-discovery key set, sorted-joined
  (ai:712-787, frozen-config variant with empty trained set);
- ``sds_entity_arrays``  — hazard_codes / cas_numbers as sorted-unique
  comma-joined strings through the REAL extract_entities path
  (ai:399-418; set-order canonicalized per SURVEY §4.3.2).

The Spark side runs the engine's actual core functions inside Arrow
UDFs; the SQL reimplements the same semantics in DuckDB.  Every regex
involved stays inside the RE2 ∩ Python-re common subset already used by
``extract_fields``/``classify_documents``; where Python-only semantics
would leak (section *content* slicing, `$`-before-trailing-newline), the
projection exposes names/counts instead of raw content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core import classify
from ..core.config import ModelConfig
from ..core.entities import discover_fields, extract_entities
from ..core.patterns import (
    CAS_GENERAL,
    COA_APPEARANCE_PATTERNS,
    COA_BATCH_PATTERNS,
    COA_CAS_PATTERNS,
    COA_DENSITY_PATTERNS,
    COA_PRODUCT_INFO_SECTION_PATTERNS,
    COA_PURITY_PATTERNS,
    COA_RESULTS_SECTION_PATTERNS,
    COA_SPECS_SECTION_PATTERNS,
    COMMON_FIELDS,
    DISCOVERY_STOPWORDS,
    DISCOVERY_TABLE_HEADERS,
    KEY_VALUE_TEST_PATTERN,
    KEY_VALUE_DISCOVERY_PATTERNS,
    PRODUCT_NAME_PATTERNS,
    ROW_SPLIT,
    SDS_EMERGENCY,
    SDS_HAZARD_CODES,
    SDS_MANUFACTURER,
    SDS_SECTION_HEADING,
    TABLE_END_MARKERS,
    TABLE_HEADER,
    TDS_APPLICATIONS_SECTION,
    TDS_DENSITY,
    TDS_FLASH_POINT,
    TDS_PROPERTIES_SECTION,
    TDS_STORAGE,
    TDS_VISCOSITY,
)
from ..core.sections import extract_sections
from ..core.tables import extract_test_results, rows_from_test_results
from ..functions.udfs import row_udf
from .driver_queries import _classify_oracle_sql, _docs

_DEFAULT_CONFIG = ModelConfig()


# --- deterministic COA-shaped input synthesis -------------------------------------------
#
# The generic testdata corpus is random filler prose: no document contains
# a results table, a numbered SDS section, or a field line, so running the
# extraction internals on it verifies nothing (0 rows on both engines).
# BASELINE.json directs: "synthesise it deterministically at small scale
# for tests and benchmarks; no external data".  Each doc_id is mapped to a
# COA-table / COA-key-value / SDS / TDS / passthrough document via printf
# templates whose arguments are pure doc_id arithmetic — the SAME template
# strings and the SAME argument expressions are evaluated by Spark
# (format_string) and DuckDB (printf), so both engines parse identical
# inputs.  doc_id % 5 picks the variant; every numeric field varies with
# doc_id so grouping/last-wins/dedup paths see real variety.

_VARIANTS: list[tuple[str, list[str]]] = [
    (  # 0: COA with a parsable results table (header, 3-col rows, a
        #    duplicate test name for last-wins, a 2-col row, blank-line end)
        "Certificate of Analysis\n"
        "Product: P-%d\n"
        "Lot Number: L-%d\n"
        "Parameter   Specification   Result\n"
        "Purity   >= %d %%   %d ppm\n"
        "Water Content   <= %d %%   %d ppm\n"
        "Purity   >= %d %%   %d ppm\n"
        "Appearance   Clear liquid\n"
        "\n"
        "Stored per SOP-7",
        [
            "doc_id",
            "doc_id % 1000",
            "90 + doc_id % 10",
            "900 + doc_id % 100",
            "doc_id % 5",
            "doc_id % 50",
            "90 + doc_id % 10",
            "doc_id % 30",
        ],
    ),
    (  # 1: COA without a table -> key-value fallback parse
        "Quality Release Report\n"
        "Batch Number: B-%d\n"
        "Purity: %d %%\n"
        "Lead: <%d ppm - %d ppm\n"
        "Visual: PASS\n"
        "Moisture: Conforms",
        ["doc_id % 1000", "90 + doc_id % 10", "1 + doc_id % 9", "doc_id % 5"],
    ),
    (  # 2: SDS with numbered sections, hazard codes, CAS number
        "Safety Data Sheet\n"
        "SECTION 1: Product Identification\n"
        "Product Name: Acetone-%d\n"
        "CAS Number: %d-%d-%d\n"
        "SECTION 2. Hazards Identification\n"
        "Hazard codes H%d H%d\n"
        "Emergency phone: 555-0100\n"
        "SECTION 3: Storage and handling\n"
        "Keep container closed",
        [
            "doc_id % 100",
            "64 + doc_id % 30",
            "10 + doc_id % 80",
            "doc_id % 10",
            "200 + doc_id % 100",
            "300 + doc_id % 50",
        ],
    ),
    (  # 3: TDS with properties + applications sections
        "Technical Data Sheet\n"
        "Physical Properties\n"
        "Technical Properties\n"
        "Density: 0.%d g/cm3\n"
        "Viscosity: %d.%d cP\n"
        "Applications\n"
        "Recommended for industrial cleaning\n"
        "Storage: keep away from heat",
        ["79 + doc_id % 20", "1 + doc_id % 9", "doc_id % 10"],
    ),
]
# variant 4: the original text untouched (classifies unknown, parses empty)


def _synth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    text = None
    for i, (tmpl, args) in enumerate(_VARIANTS):
        branch = F.format_string(tmpl, *[F.expr(a) for a in args])
        cond = F.col("doc_id") % 5 == i
        text = F.when(cond, branch) if text is None else text.when(cond, branch)
    return docs.select("doc_id", text.otherwise(F.col("text")).alias("text"))


def _synth_sql() -> str:
    cases = []
    for i, (tmpl, args) in enumerate(_VARIANTS):
        lit = tmpl.replace("'", "''")
        cases.append(f"WHEN {i} THEN printf('{lit}', {', '.join(args)})")
    return (
        "SELECT doc_id, CASE doc_id % 5 "
        + " ".join(cases)
        + " ELSE text END AS text FROM documents"
    )


def _sq(pattern: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    return pattern.replace("'", "''")


_WS_TRIM = r"^\s+|\s+$"  # Python str.strip() equivalent (regexp_replace ..., 'g')


def _trim_sql(expr: str) -> str:
    return f"regexp_replace({expr}, '{_WS_TRIM}', '', 'g')"


# --- T1-T3: test-results table parse, exploded ----------------------------------------

_TABLE_ROWS_SCHEMA = ArrayType(
    StructType(
        [
            StructField("test", StringType()),
            StructField("specification", StringType()),
            StructField("result", StringType()),
        ]
    )
)


def _table_rows(t: str | None) -> list[dict]:
    return rows_from_test_results(extract_test_results(t or ""))


_table_rows_udf = row_udf(_TABLE_ROWS_SCHEMA, _table_rows)


def q_table_parse_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per recovered test-result line: header locate -> min-end-
    marker bound -> row split on >=2 spaces/tab -> key-value fallback —
    the engine's real core.tables path, exploded for the oracle, over the
    deterministic synthesized corpus (see _VARIANTS)."""
    docs = _synth_docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.explode(_table_rows_udf(F.col("text"))).alias("r"))
        .select("doc_id", "r.test", "r.specification", "r.result")
    )


def _table_rows_sql() -> str:
    header = _sq(TABLE_HEADER)
    m_blank, m_words, m_lab = (_sq(m) for m in TABLE_END_MARKERS)
    kv = _sq(KEY_VALUE_TEST_PATTERN)
    # Python applies re.IGNORECASE to the end markers; TABLE_HEADER and
    # KEY_VALUE_TEST_PATTERN carry inline (?i) already
    return f"""
WITH src AS (
  SELECT doc_id, text FROM ({_synth_sql()})
), tbl AS (
  SELECT doc_id, text,
         regexp_extract(text, '({header}[\\s\\S]*)', 1) AS t
  FROM src
), bounded AS (
  SELECT doc_id, t,
    LEAST(
      CASE WHEN regexp_matches(t, '{m_blank}')
           THEN LENGTH(regexp_extract(t, '^([\\s\\S]*?)(?:{m_blank})', 1))
           ELSE LENGTH(t) END,
      CASE WHEN regexp_matches(t, '(?i){m_words}')
           THEN LENGTH(regexp_extract(t, '(?i)^([\\s\\S]*?){m_words}', 1))
           ELSE LENGTH(t) END,
      CASE WHEN regexp_matches(t, '(?i){m_lab}')
           THEN LENGTH(regexp_extract(t, '(?i)^([\\s\\S]*?){m_lab}', 1))
           ELSE LENGTH(t) END
    ) AS endpos
  FROM tbl WHERE t IS NOT NULL AND t != ''
), lines AS (
  SELECT doc_id, u.i AS i, u.ln AS ln FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(substring(t, 1, endpos), chr(10)),
                                 (x, ix) -> struct_pack(i := ix, ln := x))) AS u
    FROM bounded
  )
), parts AS (
  SELECT doc_id, i,
         list_filter(
           list_transform(
             regexp_split_to_array({_trim_sql('ln')}, '{_sq(ROW_SPLIT)}'),
             p -> {_trim_sql('p')}),
           p -> p != '') AS ps
  FROM lines
  WHERE i > 1 AND {_trim_sql('ln')} != ''
), tbl_rows AS (
  SELECT doc_id, i,
         ps[1] AS test,
         CASE WHEN len(ps) >= 3 THEN ps[2] ELSE '' END AS specification,
         CASE WHEN len(ps) >= 3 THEN ps[3] ELSE ps[2] END AS result
  FROM parts WHERE len(ps) >= 2
), tbl_dedup AS (
  SELECT doc_id, test, specification, result FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, test ORDER BY i DESC) AS rn
    FROM tbl_rows
  ) WHERE rn = 1
), fb AS (
  SELECT doc_id,
         regexp_extract_all(text, '{kv}', 1) AS g1,
         regexp_extract_all(text, '{kv}', 2) AS g2,
         regexp_extract_all(text, '{kv}', 3) AS g3
  FROM src
  WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tbl_dedup)
), fb_idx AS (
  SELECT doc_id, g1, g2, g3, unnest(generate_series(1, len(g1))) AS i
  FROM fb WHERE len(g1) > 0
), fb_rows AS (
  SELECT doc_id, i,
         {_trim_sql('g1[i]')} AS test,
         {_trim_sql('g2[i]')} AS spec0,
         {_trim_sql('g3[i]')} AS result
  FROM fb_idx
), fb_dedup AS (
  SELECT doc_id, test,
         CASE WHEN result != '' AND (spec0 = '' OR spec0 = '-' OR spec0 = result)
              THEN '' ELSE spec0 END AS specification,
         result
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, test ORDER BY i DESC) AS rn
    FROM fb_rows
  ) WHERE rn = 1
)
SELECT doc_id, test, specification, result FROM tbl_dedup
UNION ALL
SELECT doc_id, test, specification, result FROM fb_dedup
"""


# --- X1-X3: sectionization (names + counts) --------------------------------------------

_SECTIONS_SCHEMA = StructType(
    [
        StructField("doc_type", StringType()),
        StructField("n_sections", IntegerType()),
        StructField("section_names", StringType()),
    ]
)


def _sections(t: str | None) -> dict:
    t = t or ""
    doc_type, _ = classify(t)
    secs = extract_sections(t, doc_type)
    return {
        "doc_type": doc_type,
        "n_sections": len(secs),
        "section_names": ",".join(sorted(secs.keys())),
    }


_sections_udf = row_udf(_SECTIONS_SCHEMA, _sections)


def q_section_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sectionization through the real classify+extract_sections path:
    SDS numbered headings, TDS fixed sections, COA ordered first-match
    banks.  Names+count projection (content slicing is Python-substring
    semantics; the names are what the oracle can replicate exactly).
    Runs over the deterministic synthesized corpus (see _VARIANTS)."""
    docs = _synth_docs(spark, sf_dir)
    s = _sections_udf(F.col("text"))
    return docs.select(
        "doc_id",
        s["doc_type"].alias("doc_type"),
        s["n_sections"].alias("n_sections"),
        s["section_names"].alias("section_names"),
    )


def _any_match(bank: list[str]) -> str:
    return " OR ".join(f"regexp_matches(text, '{_sq(p)}')" for p in bank)


def _section_names_sql() -> str:
    sds_names = (
        "list_sort(list_distinct(list_transform("
        f"regexp_extract_all(text, '{_sq(SDS_SECTION_HEADING)}', 1), "
        "n -> 'section_' || CAST(CAST(n AS INTEGER) AS VARCHAR))))"
    )
    tds_names = (
        "list_sort(list_filter(["
        f"CASE WHEN regexp_matches(text, '{_sq(TDS_PROPERTIES_SECTION)}') THEN 'technical_properties' END, "
        f"CASE WHEN regexp_matches(text, '{_sq(TDS_APPLICATIONS_SECTION)}') THEN 'applications' END"
        "], x -> x IS NOT NULL))"
    )
    coa_names = (
        "list_sort(list_filter(["
        f"CASE WHEN {_any_match(COA_RESULTS_SECTION_PATTERNS)} THEN 'test_results' END, "
        f"CASE WHEN {_any_match(COA_SPECS_SECTION_PATTERNS)} THEN 'specifications' END, "
        f"CASE WHEN {_any_match(COA_PRODUCT_INFO_SECTION_PATTERNS)} THEN 'product_information' END"
        "], x -> x IS NOT NULL))"
    )
    return f"""
WITH synth AS ({_synth_sql()}),
classified AS ({_classify_oracle_sql("synth")}),
j AS (
  SELECT d.doc_id, d.text, c.doc_type
  FROM synth d JOIN classified c USING (doc_id)
), named AS (
  SELECT doc_id, doc_type,
    CASE doc_type
      WHEN 'sds' THEN {sds_names}
      WHEN 'tds' THEN {tds_names}
      WHEN 'coa' THEN {coa_names}
      ELSE []::VARCHAR[]
    END AS names
  FROM j
)
SELECT doc_id, doc_type,
       CAST(len(names) AS INTEGER) AS n_sections,
       COALESCE(array_to_string(names, ','), '') AS section_names
FROM named
"""


# --- D1: auto-discovery key set ---------------------------------------------------------

_DISCOVERY_SCHEMA = StructType(
    [
        StructField("n_discovered", IntegerType()),
        StructField("discovered_keys", StringType()),
    ]
)


def _discovery(t: str | None) -> dict:
    keys = discover_fields(t or "", "", frozenset()).keys()
    return {"n_discovered": len(keys), "discovered_keys": ",".join(sorted(keys))}


_discovery_udf = row_udf(_DISCOVERY_SCHEMA, _discovery)


def q_discovered_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-config auto-discovery through the real core.entities path:
    key-value lines (2 patterns, first-valid-occurrence wins), common-
    field banks, table-structure detection.  Key-set projection (values
    are content; the keys are the discovery decision being verified).
    Runs over the deterministic synthesized corpus (see _VARIANTS)."""
    docs = _synth_docs(spark, sf_dir)
    d = _discovery_udf(F.col("text"))
    return docs.select(
        "doc_id",
        d["n_discovered"].alias("n_discovered"),
        d["discovered_keys"].alias("discovered_keys"),
    )


def _kv_keys_sql(pattern: str) -> str:
    p = _sq(pattern)
    norm = "replace(replace(lower({k}), ' ', '_'), '-', '_')"
    key = norm.format(k=_trim_sql("g1[i]"))
    return f"""
  SELECT doc_id, {key} AS k
  FROM (
    SELECT doc_id, g1, g2, unnest(generate_series(1, len(g1))) AS i
    FROM (
      SELECT doc_id,
             regexp_extract_all(text, '{p}', 1) AS g1,
             regexp_extract_all(text, '{p}', 2) AS g2
      FROM gated
    ) WHERE len(g1) > 0
  )
  WHERE len({_trim_sql('g2[i]')}) >= 2
"""


def _discovery_ctes() -> str:
    """kv/common/tblkey/all_keys CTE bodies reproducing discover_fields
    (core/entities.py:143-184) over a ``gated`` CTE (the len>=50 gate).
    Shared by ``discovered_keys`` and ``entity_counts``."""
    common = " UNION ALL ".join(
        f"SELECT doc_id, '{name}' AS k FROM gated WHERE {_any_match(bank)}"
        for name, bank in COMMON_FIELDS.items()
    )
    headers_any = _any_match(DISCOVERY_TABLE_HEADERS)
    stop = ", ".join(f"'{w}'" for w in sorted(DISCOVERY_STOPWORDS))
    return f"""kv AS (
  {_kv_keys_sql(KEY_VALUE_DISCOVERY_PATTERNS[0])}
  UNION ALL
  {_kv_keys_sql(KEY_VALUE_DISCOVERY_PATTERNS[1])}
), common AS (
  {common}
), tblkey AS (
  SELECT doc_id, 'test_results' AS k FROM gated
  WHERE ({headers_any})
    AND doc_id IN (SELECT DISTINCT doc_id FROM ({_table_rows_sql()}))
), all_keys AS (
  SELECT DISTINCT doc_id, k FROM (
    SELECT * FROM kv WHERE k NOT IN ({stop})
    UNION ALL SELECT * FROM common
    UNION ALL SELECT * FROM tblkey
  )
)"""


def _discovered_keys_sql() -> str:
    return f"""
WITH synth AS ({_synth_sql()}),
gated AS (
  SELECT doc_id, text FROM synth WHERE text IS NOT NULL AND LENGTH(text) >= 50
), {_discovery_ctes()}, agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INTEGER) AS n_discovered,
         array_to_string(list_sort(list(k)), ',') AS discovered_keys
  FROM all_keys GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_discovered, 0) AS n_discovered,
       COALESCE(a.discovered_keys, '') AS discovered_keys
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# --- P3: SDS multi-match arrays through the real extract_entities path ------------------


_SDS_ARRAYS_SCHEMA = StructType(
    [
        StructField("doc_type", StringType()),
        StructField("hazard_codes", StringType()),
        StructField("cas_numbers", StringType()),
    ]
)


def _sds_arrays(t: str | None) -> dict:
    t = t or ""
    doc_type, _ = classify(t)
    ents = extract_entities(t, doc_type, _DEFAULT_CONFIG)
    return {
        "doc_type": doc_type,
        "hazard_codes": ",".join(ents.get("hazard_codes", [])),
        "cas_numbers": ",".join(ents.get("cas_numbers", [])),
    }


_sds_arrays_udf = row_udf(_SDS_ARRAYS_SCHEMA, _sds_arrays)


def q_sds_entity_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hazard_codes / cas_numbers through the REAL extract_entities path
    (classify -> per-type banks -> discovery): sorted-unique sets, comma-
    joined; non-SDS docs emit empty strings (the keys only exist for
    sds).  Canonical sorted order per SURVEY §4.3.2.  Runs over the
    deterministic synthesized corpus (see _VARIANTS)."""
    docs = _synth_docs(spark, sf_dir)
    e = _sds_arrays_udf(F.col("text"))
    return docs.select(
        "doc_id",
        e["doc_type"].alias("doc_type"),
        e["hazard_codes"].alias("hazard_codes"),
        e["cas_numbers"].alias("cas_numbers"),
    )


def _sds_arrays_sql() -> str:
    return f"""
WITH synth AS ({_synth_sql()}),
classified AS ({_classify_oracle_sql("synth")})
SELECT d.doc_id, c.doc_type,
  CASE WHEN c.doc_type = 'sds'
       THEN COALESCE(array_to_string(list_sort(list_distinct(
              regexp_extract_all(d.text, '{_sq(SDS_HAZARD_CODES)}', 1))), ','), '')
       ELSE '' END AS hazard_codes,
  CASE WHEN c.doc_type = 'sds'
       THEN COALESCE(array_to_string(list_sort(list_distinct(
              regexp_extract_all(d.text, '{_sq(CAS_GENERAL)}', 1))), ','), '')
       ELSE '' END AS cas_numbers
FROM synth d JOIN classified c USING (doc_id)
"""


# --- A4/P6: full entity-merge key set + counts (round-3 verdict item 1) ------------------
#
# The round-2 extract_pipeline projection carried n_entities/n_test_results
# as rows-only columns; this query gives those numbers a DIRECT oracle by
# running the REAL classify -> extract_entities merge (product_name bank,
# per-type banks, frozen-config discovery, setdefault merge = key-set
# union) over the synthesized corpus and exposing the scalar key set —
# exactly result_to_row's scalar_entities keys (core/convert.py:24-52) —
# plus the recovered test-result row count.

_ENTITY_COUNTS_SCHEMA = StructType(
    [
        StructField("doc_type", StringType()),
        StructField("n_entities", IntegerType()),
        StructField("entity_keys", StringType()),
        StructField("n_test_results", IntegerType()),
    ]
)

_NON_SCALAR_KEYS = ("hazard_codes", "cas_numbers", "test_results")


def _entity_counts(t: str | None) -> dict:
    t = t or ""
    doc_type, _ = classify(t)
    ents = extract_entities(t, doc_type, _DEFAULT_CONFIG)
    tr = ents.get("test_results")
    scalars = sorted(k for k in ents if k not in _NON_SCALAR_KEYS)
    return {
        "doc_type": doc_type,
        "n_entities": len(scalars),
        "entity_keys": ",".join(scalars),
        "n_test_results": len(rows_from_test_results(tr)) if isinstance(tr, dict) else 0,
    }


_entity_counts_udf = row_udf(_ENTITY_COUNTS_SCHEMA, _entity_counts)


def q_entity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar entity key set + test-result row count through the REAL
    classify -> extract_entities -> result_to_row path (ai:386-555,
    712-787, 1217-1268) over the deterministic synthesized corpus."""
    docs = _synth_docs(spark, sf_dir)
    e = _entity_counts_udf(F.col("text"))
    return docs.select(
        "doc_id",
        e["doc_type"].alias("doc_type"),
        e["n_entities"].alias("n_entities"),
        e["entity_keys"].alias("entity_keys"),
        e["n_test_results"].alias("n_test_results"),
    )


def _first_match_truthy(bank: list[str]) -> str:
    """SQL for ``bool(_first_match(text, bank))``: the FIRST matching
    pattern's trimmed group(1) must be non-empty (a first pattern that
    matches but strips empty blocks later banks — Python semantics)."""
    cases = " ".join(
        f"WHEN regexp_matches(text, '{_sq(p)}') "
        f"THEN {_trim_sql(f'''regexp_extract(text, '{_sq(p)}', 1)''')}"
        for p in bank
    )
    return f"COALESCE(CASE {cases} END, '') != ''"


def _entity_counts_sql() -> str:
    # key present iff the bank/pattern matched, mirroring each `if` in
    # core/entities.py: truthy gate for product_name (entities.py:193-195),
    # bare match for the per-type banks (`is not None` / `if m:`)
    typed = [
        ("product_name", None, _first_match_truthy(PRODUCT_NAME_PATTERNS)),
        ("emergency_contact", "sds", f"regexp_matches(text, '{_sq(SDS_EMERGENCY)}')"),
        ("manufacturer", "sds", f"regexp_matches(text, '{_sq(SDS_MANUFACTURER)}')"),
        ("density", "tds", f"regexp_matches(text, '{_sq(TDS_DENSITY)}')"),
        ("viscosity", "tds", f"regexp_matches(text, '{_sq(TDS_VISCOSITY)}')"),
        ("flash_point", "tds", f"regexp_matches(text, '{_sq(TDS_FLASH_POINT)}')"),
        ("storage_conditions", "tds", f"regexp_matches(text, '{_sq(TDS_STORAGE)}')"),
        ("batch_number", "coa", _any_match(COA_BATCH_PATTERNS)),
        ("lot_number", "coa", _any_match(COA_BATCH_PATTERNS)),
        ("cas_number", "coa", _any_match(COA_CAS_PATTERNS)),
        ("appearance", "coa", _any_match(COA_APPEARANCE_PATTERNS)),
        ("density", "coa", _any_match(COA_DENSITY_PATTERNS)),
        ("purity", "coa", _any_match(COA_PURITY_PATTERNS)),
    ]
    typed_sql = " UNION ALL ".join(
        f"SELECT doc_id, '{key}' AS k FROM j WHERE "
        + (f"doc_type = '{dt}' AND ({cond})" if dt else f"({cond})")
        for key, dt, cond in typed
    )
    non_scalar = ", ".join(f"'{k}'" for k in _NON_SCALAR_KEYS)
    return f"""
WITH synth AS ({_synth_sql()}),
classified AS ({_classify_oracle_sql("synth")}),
j AS (
  SELECT d.doc_id, d.text, c.doc_type
  FROM synth d JOIN classified c USING (doc_id)
),
gated AS (
  SELECT doc_id, text FROM synth WHERE text IS NOT NULL AND LENGTH(text) >= 50
), {_discovery_ctes()},
scalar_keys AS (
  SELECT DISTINCT doc_id, k FROM (
    {typed_sql}
    UNION ALL
    SELECT doc_id, k FROM all_keys WHERE k NOT IN ({non_scalar})
  )
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INTEGER) AS n_entities,
         array_to_string(list_sort(list(k)), ',') AS entity_keys
  FROM scalar_keys GROUP BY doc_id
),
trc AS (
  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_rows
  FROM ({_table_rows_sql()}) GROUP BY doc_id
)
SELECT j.doc_id, j.doc_type,
       COALESCE(a.n_entities, 0) AS n_entities,
       COALESCE(a.entity_keys, '') AS entity_keys,
       CASE WHEN j.doc_type = 'coa' OR j.doc_id IN (SELECT doc_id FROM tblkey)
            THEN COALESCE(t.n_rows, 0) ELSE 0 END AS n_test_results
FROM j LEFT JOIN agg a USING (doc_id) LEFT JOIN trc t USING (doc_id)
"""


QUERIES_CORE = {
    "table_parse_rows": q_table_parse_rows,
    "section_names": q_section_names,
    "discovered_keys": q_discovered_keys,
    "sds_entity_arrays": q_sds_entity_arrays,
    "entity_counts": q_entity_counts,
}

ORACLES_CORE = {
    "table_parse_rows": _table_rows_sql(),
    "section_names": _section_names_sql(),
    "discovered_keys": _discovered_keys_sql(),
    "sds_entity_arrays": _sds_arrays_sql(),
    "entity_counts": _entity_counts_sql(),
}
