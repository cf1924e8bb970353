"""Wave-5 driver queries: corpus-analysis / data-governance operators a
large-scale training-data pipeline needs beyond dedup and quality.

- ``top_terms``           — corpus-level term frequencies (the sanity
  dashboard of any corpus build): one explode + one count, top-20 with
  an explicit tie-break;
- ``redact_pii``          — email/phone redaction with per-doc counts
  and an md5 of the redacted text (proves replacement semantics agree
  cross-engine bit-for-bit).  The generic corpus contains no PII, so the
  input is deterministically synthesized from doc_id via the same
  printf-both-engines technique as driver_queries_core;
- ``contamination_pairs`` — train/test overlap detection: split the
  corpus by doc_id parity (the stand-in for 'train table' vs 'eval
  table'), report MinHash-LSH candidate pairs that CROSS the split —
  the standard pre-training decontamination check, reusing the
  hot-bucket-capped pair generator (never all-pairs).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions.udfs import row_udf
from .driver_queries import _docs, _read
from .driver_queries_dedup import _MIN_BANDS_AGREE, minhash_candidate_pairs

# --- corpus term frequencies -------------------------------------------------------------

_TOP_K = 20


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    token = F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    return (
        docs.select(token)
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(_TOP_K)
    )


_TOP_TERMS_SQL = f"""
SELECT term, COUNT(*) AS n_occurrences
FROM (
  SELECT unnest(regexp_split_to_array(lower(TRIM(text)), '\\s+')) AS term
  FROM documents
) WHERE term != ''
GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT {_TOP_K}
"""


# --- PII redaction -----------------------------------------------------------------------

_EMAIL = r"[A-Za-z0-9._]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"

# the generic corpus has no PII; synthesize contact lines from doc_id —
# identical printf template in both engines (see driver_queries_core)
_PII_TMPL = (
    "Report %d prepared by user%d@example-%d.com\n"
    "Escalation: ops.team%d@corp.example.org or 555-%03d-%04d\n"
    "Reference text without contacts, id %d"
)
_PII_ARGS = [
    "doc_id",
    "doc_id % 50",
    "doc_id % 7",
    "doc_id % 9",
    "100 + doc_id % 900",
    "1000 + doc_id % 9000",
    "doc_id",
]


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction: per-doc match counts + md5 of the redacted
    text — the value hash makes any cross-engine divergence in
    replace-all semantics or match boundaries fail loudly."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.format_string(_PII_TMPL, *[F.expr(a) for a in _PII_ARGS]).alias("text"),
    )
    n_emails = F.size(F.regexp_extract_all("text", F.lit(_EMAIL), 0)).cast("long")
    n_phones = F.size(F.regexp_extract_all("text", F.lit(_PHONE), 0)).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL, "<EMAIL>"), _PHONE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


def _redact_sql() -> str:
    lit = _PII_TMPL.replace("'", "''")
    synth = f"printf('{lit}', {', '.join(_PII_ARGS)})"
    email = _EMAIL.replace("'", "''")
    phone = _PHONE.replace("'", "''")
    return f"""
WITH synth AS (
  SELECT doc_id, {synth} AS text FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{email}')) AS n_emails,
       len(regexp_extract_all(text, '{phone}')) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{email}', '<EMAIL>', 'g'),
                          '{phone}', '<PHONE>', 'g')) AS redacted_md5
FROM synth
"""


# --- validity-aware PII scan (IPv4 / SSN / Luhn credit card) ------------------------------

# Pattern-match alone over-redacts at corpus scale (every 16-digit order
# number becomes a "credit card"); the standard scrubbers therefore pair
# each candidate regex with a VALIDITY check.  All three checks here are
# pure integer arithmetic, so they run as JVM HOF lambdas in Spark and
# identical list lambdas in DuckDB — candidate counts AND validity
# counts are oracle-exact.  Patterns stay in the Java∩RE2 common subset
# (\b, \d, explicit quantifiers only).
_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
_CC = r"\b\d{16}\b"

# synthesized scan corpus: one IPv4 whose last two octets stray out of
# range on a doc_id-dependent subset, one SSN hitting every invalidity
# rule (area 000/666/900+, group 00, serial 0000) across the id space,
# one 16-digit card number that is Luhn-valid for ~1 in 10 docs
_SCAN_TMPL = (
    "Node 10.%d.%d.%d port %d\n"
    "SSN on file %03d-%02d-%04d\n"
    "Card: %016d\n"
    "Trailing reference %d"
)
_SCAN_ARGS = [
    "doc_id % 256",
    "180 + doc_id % 120",  # > 255 for doc_id % 120 >= 76
    "doc_id % 300",  # > 255 for doc_id % 300 >= 256
    "doc_id",
    "doc_id % 1000",  # SSN area: 000, 666, 900-999 all reachable
    "doc_id % 100",  # SSN group: 00 reachable
    "doc_id % 10000",  # SSN serial: 0000 reachable
    "(4532000000000000 + doc_id * 99991) % 10000000000000000",
    "doc_id",
]

# Luhn mod-10 over a 16-char digit string: position i from the LEFT is
# doubled iff i is even (right-based parity 15 - i is odd), digits via
# ascii - 48.  The strings are 16 chars, so the HOF
# re-evaluation-per-invocation hazard is immaterial here.
_LUHN_LAMBDA_SPARK = (
    "aggregate(sequence(0, 15), 0, (acc, i) -> acc + "
    "CASE WHEN i % 2 = 0 THEN "
    "CASE WHEN 2 * (ascii(substring(s, i + 1, 1)) - 48) > 9 "
    "THEN 2 * (ascii(substring(s, i + 1, 1)) - 48) - 9 "
    "ELSE 2 * (ascii(substring(s, i + 1, 1)) - 48) END "
    "ELSE ascii(substring(s, i + 1, 1)) - 48 END) % 10 = 0"
)
_LUHN_LAMBDA_DUCK = (
    "list_sum(list_transform(range(0, 16), i -> "
    "CASE WHEN i % 2 = 0 THEN "
    "CASE WHEN 2 * (ascii(substr(s, CAST(i + 1 AS INTEGER), 1)) - 48) > 9 "
    "THEN 2 * (ascii(substr(s, CAST(i + 1 AS INTEGER), 1)) - 48) - 9 "
    "ELSE 2 * (ascii(substr(s, CAST(i + 1 AS INTEGER), 1)) - 48) END "
    "ELSE ascii(substr(s, CAST(i + 1 AS INTEGER), 1)) - 48 END)) % 10 = 0"
)

# SSA assignment rules: area != 000/666, < 900; group != 00; serial != 0000
_SSN_VALID_SPARK = (
    "CAST(substring(s, 1, 3) AS INT) NOT IN (0, 666) "
    "AND CAST(substring(s, 1, 3) AS INT) < 900 "
    "AND CAST(substring(s, 5, 2) AS INT) != 0 "
    "AND CAST(substring(s, 8, 4) AS INT) != 0"
)
_SSN_VALID_DUCK = (
    "CAST(substr(s, 1, 3) AS INTEGER) NOT IN (0, 666) "
    "AND CAST(substr(s, 1, 3) AS INTEGER) < 900 "
    "AND CAST(substr(s, 5, 2) AS INTEGER) != 0 "
    "AND CAST(substr(s, 8, 4) AS INTEGER) != 0"
)


def scrub_pii(text):  # text: Column
    """Pattern-level redaction chain over all five PII classes —
    deliberately recall-biased (scrubbing an invalid candidate is safe;
    shipping a valid one is not).  ``pii_scan``'s validity counts
    quantify exactly how much that bias over-redacts."""
    out = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _CC, "<CC>"), _SSN, "<SSN>"
        ),
        _IPV4,
        "<IP>",
    )
    return F.regexp_replace(
        F.regexp_replace(out, _EMAIL, "<EMAIL>"), _PHONE, "<PHONE>"
    )


def pii_scan_text(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ipv4, n_ipv4_valid, n_ssn, n_ssn_valid, n_cc,
    n_cc_luhn_valid, redacted_md5): validity-aware PII scan over the
    frame's own ``text`` column.

    Scale shape: one projection — candidate extraction, the three
    validity lambdas, the redaction chain, and the md5 all fuse into a
    single WholeStageCodegen pass over the scan; zero shuffles, zero
    UDFs, per-row work linear in text length.
    """
    with_cands = docs.select(
        "doc_id",
        "text",
        F.regexp_extract_all("text", F.lit(_IPV4), 0).alias("ips"),
        F.regexp_extract_all("text", F.lit(_SSN), 0).alias("ssns"),
        F.regexp_extract_all("text", F.lit(_CC), 0).alias("ccs"),
    )
    # CC first (16 digits can contain no dots/dashes, but nothing may
    # eat its digits first), then SSN, then IPv4 — classes are disjoint
    # in the template, the order just pins the contract
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _CC, "<CC>"), _SSN, "<SSN>"
        ),
        _IPV4,
        "<IP>",
    )
    n = lambda c: F.size(c).cast("long")  # noqa: E731
    return with_cands.select(
        "doc_id",
        n(F.col("ips")).alias("n_ipv4"),
        F.expr(
            "CAST(size(filter(ips, s -> "
            "forall(split(s, '[.]'), o -> CAST(o AS INT) <= 255))) AS BIGINT)"
        ).alias("n_ipv4_valid"),
        n(F.col("ssns")).alias("n_ssn"),
        F.expr(
            f"CAST(size(filter(ssns, s -> {_SSN_VALID_SPARK})) AS BIGINT)"
        ).alias("n_ssn_valid"),
        n(F.col("ccs")).alias("n_cc"),
        F.expr(
            f"CAST(size(filter(ccs, s -> {_LUHN_LAMBDA_SPARK})) AS BIGINT)"
        ).alias("n_cc_luhn_valid"),
        F.md5(redacted).alias("redacted_md5"),
    )


def pii_scan(docs: DataFrame) -> DataFrame:
    """pii_scan_text over the deterministic synthesized scan corpus
    (the generic corpus has no PII) — the oracle-checked entry point."""
    synth = docs.select(
        "doc_id",
        F.format_string(_SCAN_TMPL, *[F.expr(a) for a in _SCAN_ARGS]).alias(
            "text"
        ),
    )
    return pii_scan_text(synth)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scan(_docs(spark, sf_dir))


def _pii_scan_sql() -> str:
    lit = _SCAN_TMPL.replace("'", "''")
    synth = f"printf('{lit}', {', '.join(_SCAN_ARGS)})"
    ipv4 = _IPV4.replace("'", "''")
    ssn = _SSN.replace("'", "''")
    cc = _CC.replace("'", "''")
    return f"""
WITH synth AS (
  SELECT doc_id, {synth} AS text FROM documents
), cands AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '{ipv4}') AS ips,
         regexp_extract_all(text, '{ssn}') AS ssns,
         regexp_extract_all(text, '{cc}') AS ccs
  FROM synth
)
SELECT doc_id,
       CAST(len(ips) AS BIGINT) AS n_ipv4,
       CAST(len(list_filter(ips, s -> list_aggregate(
           list_transform(string_split(s, '.'),
                          o -> CAST(o AS INTEGER) <= 255),
           'bool_and'))) AS BIGINT) AS n_ipv4_valid,
       CAST(len(ssns) AS BIGINT) AS n_ssn,
       CAST(len(list_filter(ssns, s -> {_SSN_VALID_DUCK})) AS BIGINT)
           AS n_ssn_valid,
       CAST(len(ccs) AS BIGINT) AS n_cc,
       CAST(len(list_filter(ccs, s -> {_LUHN_LAMBDA_DUCK})) AS BIGINT)
           AS n_cc_luhn_valid,
       md5(regexp_replace(regexp_replace(regexp_replace(
           text, '{cc}', '<CC>', 'g'), '{ssn}', '<SSN>', 'g'),
           '{ipv4}', '<IP>', 'g')) AS redacted_md5
FROM cands
"""


EXTRA_QUERIES_CORPUS = {"pii_scan": q_pii_scan}
EXTRA_ORACLES_CORPUS = {"pii_scan": _pii_scan_sql()}


# --- encoding-artifact (mojibake) detection ------------------------------------------------
#
# The C4/CCNet-class cleaning step the quality family lacked: flag docs
# carrying UTF-8-as-Latin-1 mojibake digraphs, U+FFFD replacement
# characters, and stray C0 control characters, and emit the md5 of the
# scrubbed payload.  The generic corpus is clean ASCII prose (zero
# artifacts on both engines verifies nothing), so the query runs over a
# deterministically MANGLED twin of the documents table — the
# _synth_docs pattern of driver_queries_core: doc_id % 6 picks an
# injection (mojibake / replacement / control / all three / untouched),
# arguments are pure doc_id arithmetic, and both engines build the
# identical artifact strings (Spark from unicode literals — its chr()
# truncates codepoints mod 256 — DuckDB from chr(codepoint)).
#
# All counts are replace-diff integers ((len - len(replace(t, seq, '')))
# DIV len(seq)) — no regex, so no Java-vs-RE2 class semantics in play.

_MOJI_E = "Ã©"  # 'é' UTF-8 bytes re-decoded as Latin-1
_MOJI_Q = "â€™"  # ''' UTF-8 bytes re-decoded as CP1252
_REPL = "�"
_CTL = ["\u0001", "\u0007", "\u000b"]  # C0 controls (tab/newline excluded)


def _mangled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    t = F.col("text")
    moji_q = F.repeat(F.lit(_MOJI_Q), (d % 3 + 1).cast("int"))
    variants = {
        1: F.concat(t, F.lit(" caf" + _MOJI_E), moji_q),
        2: F.concat(F.repeat(F.lit(_REPL), (d % 4 + 1).cast("int")), t),
        3: F.concat(
            t,
            F.repeat(F.lit(_CTL[0] + _CTL[1]), (d % 2 + 1).cast("int")),
            F.lit(_CTL[2]),
        ),
        4: F.concat(F.lit(_REPL), t, F.lit(_MOJI_Q + _CTL[0])),
    }
    text = None
    for i, branch in variants.items():
        cond = d % 6 == i
        text = F.when(cond, branch) if text is None else text.when(cond, branch)
    return docs.select("doc_id", text.otherwise(t).alias("text"))


def _cnt(col, seq: str):
    diff = F.length(col) - F.length(F.replace(col, F.lit(seq), F.lit("")))
    return (diff / F.lit(len(seq))).cast("long")


def scrub_encoding(text):  # text: Column
    """Remove every tracked encoding artifact (mojibake digraphs,
    replacement chars, C0 controls) — the payload rewrite behind
    ``curate --encoding-clean``.  Plain replace chain, JVM-side."""
    out = text
    for seq in [_MOJI_E, _MOJI_Q, _REPL] + _CTL:
        out = F.replace(out, F.lit(seq), F.lit(""))
    return out


def count_encoding_artifacts(text):  # text: Column
    """Total artifact occurrences in ``text`` (the scrub counter)."""
    return (
        _cnt(text, _MOJI_E)
        + _cnt(text, _MOJI_Q)
        + _cnt(text, _REPL)
        + _cnt(text, _CTL[0])
        + _cnt(text, _CTL[1])
        + _cnt(text, _CTL[2])
    )


def encoding_artifact_stats(docs: DataFrame) -> DataFrame:
    """Per-doc encoding-artifact scan over ANY documents frame —
    DataFrame-level so profile_corpus can run it over real docs (the
    registered query feeds it the mangled twin, where every branch is
    live).  One projection, zero joins, zero shuffles beyond the
    scan."""
    t = F.col("text")
    n_moji = (_cnt(t, _MOJI_E) + _cnt(t, _MOJI_Q)).alias("n_moji")
    n_repl = _cnt(t, _REPL).alias("n_repl")
    n_ctl = (
        _cnt(t, _CTL[0]) + _cnt(t, _CTL[1]) + _cnt(t, _CTL[2])
    ).alias("n_ctl")
    scrubbed = scrub_encoding(t)
    return docs.select(
        "doc_id",
        n_moji,
        n_repl,
        n_ctl,
        (
            (_cnt(t, _MOJI_E) + _cnt(t, _MOJI_Q) + _cnt(t, _REPL))
            + (_cnt(t, _CTL[0]) + _cnt(t, _CTL[1]) + _cnt(t, _CTL[2]))
            == 0
        )
        .cast("long")
        .alias("is_clean"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def q_encoding_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered query: the scan over the deterministically
    mangled corpus twin (every injection branch live, oracle-exact)."""
    return encoding_artifact_stats(_mangled_docs(spark, sf_dir))


def _encoding_sql() -> str:
    moji_e = "chr(195) || chr(169)"
    moji_q = "chr(226) || chr(8364) || chr(8482)"
    repl = "chr(65533)"
    c = ["chr(1)", "chr(7)", "chr(11)"]

    def cnt(seq_expr: str, n: int) -> str:
        return (
            f"CAST((length(t) - length(replace(t, {seq_expr}, ''))) // {n}"
            " AS BIGINT)"
        )

    scrub = "t"
    for seq in [moji_e, moji_q, repl] + c:
        scrub = f"replace({scrub}, {seq}, '')"
    total = " + ".join(
        [cnt(moji_e, 2), cnt(moji_q, 3), cnt(repl, 1)]
        + [cnt(x, 1) for x in c]
    )
    return f"""
WITH synth AS (
  SELECT doc_id, CASE doc_id % 6
    WHEN 1 THEN text || ' caf' || {moji_e}
                || repeat({moji_q}, CAST(doc_id % 3 + 1 AS INT))
    WHEN 2 THEN repeat({repl}, CAST(doc_id % 4 + 1 AS INT)) || text
    WHEN 3 THEN text || repeat({c[0]} || {c[1]}, CAST(doc_id % 2 + 1 AS INT))
                || {c[2]}
    WHEN 4 THEN {repl} || text || {moji_q} || {c[0]}
    ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       {cnt(moji_e, 2)} + {cnt(moji_q, 3)} AS n_moji,
       {cnt(repl, 1)} AS n_repl,
       {cnt(c[0], 1)} + {cnt(c[1], 1)} + {cnt(c[2], 1)} AS n_ctl,
       CAST(({total}) = 0 AS BIGINT) AS is_clean,
       md5({scrub}) AS scrubbed_md5
FROM synth
"""


EXTRA_QUERIES_CORPUS["encoding_artifacts"] = q_encoding_artifacts
EXTRA_ORACLES_CORPUS["encoding_artifacts"] = _encoding_sql()


# --- Unicode NFC normalization --------------------------------------------------------------
#
# The Dolma-class canonicalization step: decomposed sequences (e +
# combining acute), compatibility singletons (U+212B ANGSTROM SIGN) and
# friends must map to one canonical form before any hash-based dedup —
# two byte-different spellings of the same text otherwise defeat exact
# dedup and fingerprinting.  Spark has no built-in NFC, so this is a
# deliberate Arrow-batch UDF operator (unicodedata.normalize —
# the parity path, like the fingerprint/classify UDFs); the DuckDB
# oracle uses its native nfc_normalize, verified to agree with Python's
# unicodedata on the injected sequences (both implement Unicode NFC).
#
# The generic corpus is ASCII (NFC is the identity — verifies nothing),
# so the query runs over a mangled twin injecting real non-NFC text:
# doc_id % 4 = 1 appends a decomposed acute, 2 appends 1-2 decomposed
# ring-As, 3 appends the Angstrom compatibility singleton (same LENGTH
# after NFC, different codepoint — catches length-only shortcuts).

_NFC_ACUTE = "e\u0301"  # decomposed -> U+00E9 (shrinks)
_NFC_RING = "A\u030a"  # decomposed -> U+00C5 (shrinks)
_NFC_ANGSTROM = "\u212b"  # singleton -> U+00C5 (same length, new codepoint)


def _nfc_mangled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    t = F.col("text")
    variants = {
        1: F.concat(t, F.lit(" Caf" + _NFC_ACUTE)),
        2: F.concat(  # doc_id%4==2 means even ids: vary on bit 2 instead
            t, F.repeat(F.lit(_NFC_RING), ((d % 8) / 4 + 1).cast("int"))
        ),
        3: F.concat(t, F.lit(" 1" + _NFC_ANGSTROM)),
    }
    text = None
    for i, branch in variants.items():
        cond = d % 4 == i
        text = F.when(cond, branch) if text is None else text.when(cond, branch)
    return docs.select("doc_id", text.otherwise(t).alias("text"))


def _nfc(t: str | None) -> str | None:
    return unicodedata.normalize("NFC", t) if t else t


_nfc_udf = row_udf(StringType(), _nfc)


def nfc_stats(docs: DataFrame) -> DataFrame:
    """Per-doc NFC canonicalization report over ANY documents frame:
    changed flag, char counts before/after, md5 of the canonical text.
    One projection; the UDF is the only Python boundary (Arrow-batched,
    partition-preserving, no shuffle)."""
    nfc = _nfc_udf(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_before"),
        F.length(nfc).cast("long").alias("n_after"),
        (nfc != F.col("text")).cast("long").alias("is_changed"),
        F.md5(nfc).alias("nfc_md5"),
    )


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered query: the report over the mangled twin (every
    injection branch live, oracle-exact vs DuckDB nfc_normalize)."""
    return nfc_stats(_nfc_mangled(spark, sf_dir))


_NFC_SQL = """
WITH synth AS (
  SELECT doc_id, CASE doc_id % 4
    WHEN 1 THEN text || ' Caf' || chr(101) || chr(769)
    WHEN 2 THEN text || repeat(chr(65) || chr(778), CAST(doc_id % 8 // 4 + 1 AS INT))
    WHEN 3 THEN text || ' 1' || chr(8491)
    ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_before,
       CAST(length(nfc_normalize(t)) AS BIGINT) AS n_after,
       CAST(nfc_normalize(t) != t AS BIGINT) AS is_changed,
       md5(nfc_normalize(t)) AS nfc_md5
FROM synth
"""

EXTRA_QUERIES_CORPUS["nfc_normalize"] = q_nfc_normalize
EXTRA_ORACLES_CORPUS["nfc_normalize"] = _NFC_SQL


# --- train/test contamination ------------------------------------------------------------


def q_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training decontamination: near-duplicate candidate pairs that
    cross the train/eval split (doc_id parity stands in for the two
    tables).  Reuses the bucket-grouped MinHash pair generator — at
    100 TB this is the same one-shuffle LSH plan, with the eval side
    typically tiny and broadcastable."""
    pairs = minhash_candidate_pairs(_docs(spark, sf_dir)).where(
        F.col("n_bands_agree") >= _MIN_BANDS_AGREE
    )
    return pairs.where(
        (F.col("doc_a") % 2) != (F.col("doc_b") % 2)
    ).select(
        F.col("doc_a").alias("train_doc_id"),
        F.col("doc_b").alias("eval_doc_id"),
        "n_bands_agree",
    )


def _contamination_sql() -> str:
    from .driver_queries_dedup import _minhash_pairs_sql

    return f"""
SELECT doc_a AS train_doc_id, doc_b AS eval_doc_id, n_bands_agree
FROM ({_minhash_pairs_sql()})
WHERE n_bands_agree >= {_MIN_BANDS_AGREE}
  AND (doc_a % 2) != (doc_b % 2)
"""


# --- corpus vocabulary + length-distribution dashboards ----------------------------------


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary health of the corpus: total token count, distinct
    terms, and hapax legomena (terms occurring exactly once — the
    OCR-garbage / typo signal).  One explode, one count, one row."""
    docs = _docs(spark, sf_dir)
    terms = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return terms.agg(
        F.sum("n").cast("long").alias("n_tokens_total"),
        F.count(F.lit(1)).alias("n_distinct_terms"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
    )


_VOCAB_SQL = """
WITH terms AS (
  SELECT term, COUNT(*) AS n FROM (
    SELECT unnest(regexp_split_to_array(lower(TRIM(text)), '\\s+')) AS term
    FROM documents
  ) WHERE term != ''
  GROUP BY term
)
SELECT CAST(SUM(n) AS BIGINT) AS n_tokens_total,
       COUNT(*) AS n_distinct_terms,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
FROM terms
"""

_QUANTILES = (50, 90, 99)


_QUANTILE_BUCKET_W = 4096  # value-domain bucket width for cross-bucket offsets


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete length percentiles (p50/p90/p99 of n_chars): the
    value at rank ceil(q*n) — no interpolation, no approx sketch, so both
    engines agree bit-for-bit.

    Distributed exact rank (round-2 verdict item 2 — the former
    ``Window.orderBy`` with no partitionBy forced the whole corpus onto
    one partition).  Fully parallel plan:

      1. histogram: groupBy(n_chars) -> cnt            (one shuffle, D rows)
      2. cross-bucket offsets: value-domain buckets of width 4096; offset
         for bucket b = sum of counts in buckets < b, via a small
         bucket-totals self-join (B^2 pairs where B is bounded by
         max_doc_len/4096 — value-domain bounded, NOT corpus bounded, so
         it stays trivial at 10^12 docs)
      3. within-bucket cumulative counts: a Window PARTITIONED by bucket
         (parallel; never a global sort)
      4. rank-owning value: the unique n_chars whose (cum_lo, cum_hi]
         interval contains rank r = ceil(n*q/100)

    The rank-r value under the original (n_chars, doc_id) row ordering
    depends only on the n_chars ordering — ties share the same value — so
    the histogram formulation is exactly equivalent.
    """
    hist = (
        _docs(spark, sf_dir)
        .groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return quantiles_from_hist(hist)


def quantiles_from_hist(hist) -> "DataFrame":
    """Exact rank-ceil(q*n) percentiles from a (n_chars, cnt) value
    histogram — the back half of q_length_quantiles, shared with the
    streaming twin (streaming/quantile_stream.py): a histogram is the
    exact mergeable state for discrete quantiles, so the streamed
    answer is bit-identical to the batch one."""
    from pyspark.sql import Window

    hist = hist.withColumn(
        "bucket", F.floor(F.col("n_chars") / _QUANTILE_BUCKET_W)
    )
    bt = hist.groupBy("bucket").agg(F.sum("cnt").alias("bcnt"))
    boff = (
        bt.alias("a")
        .join(bt.alias("b"), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum(F.col("b.bcnt")), F.lit(0)).alias("off"))
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        hist.join(F.broadcast(boff), "bucket")
        .select(
            "n_chars",
            "cnt",
            (F.col("off") + F.sum("cnt").over(w)).alias("cum_hi"),
        )
        .withColumn("cum_lo", F.col("cum_hi") - F.col("cnt"))
    )
    ranked = cum.crossJoin(F.broadcast(cum.agg(F.max("cum_hi").alias("n"))))
    picks = [
        F.max(
            F.when(
                (F.ceil(F.col("n") * q / 100.0) > F.col("cum_lo"))
                & (F.ceil(F.col("n") * q / 100.0) <= F.col("cum_hi")),
                F.col("n_chars"),
            )
        )
        .cast("long")
        .alias(f"p{q}_chars")
        for q in _QUANTILES
    ]
    return ranked.agg(*picks)


_QUANTILES_SQL = f"""
WITH ranked AS (
  SELECT n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER () AS n
  FROM documents
)
SELECT {", ".join(
    f"CAST(MAX(CASE WHEN rk = CEIL(n * {q} / 100.0) THEN n_chars END) AS BIGINT)"
    f" AS p{q}_chars" for q in _QUANTILES)}
FROM ranked
"""


# --- winnowing fingerprint (rolling-hash document fingerprinting) ------------------------

_WIN_K = 8  # k-gram length
_WIN_W = 4  # winnowing window (consecutive k-gram hashes)
_WIN_B = 257  # polynomial base
_WIN_M = 2_147_483_647  # modulus (2^31 - 1); acc*B + 255 < 2^39 fits BIGINT


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS algorithm): polynomial hash of
    every k-gram, minimum per w-window, distinct minima = the document's
    fingerprint set.  Rolling-hash selection guarantees any shared
    substring of length >= k+w-1 contributes at least one common
    fingerprint — the plagiarism/near-dup primitive that, unlike MinHash,
    localizes WHERE documents overlap.  All integer math, JVM-side.

    Per-position hashes are computed directly (O(k) each) rather than
    rolled — the 'rolling' recurrence is a constant-factor optimization
    that a columnar engine replaces with data parallelism; the selected
    fingerprints are identical.  Emitted as count + md5 of the sorted
    set (exact in both engines).

    PLAN SHAPE MATTERS HERE: the hash array and the fingerprint array
    are materialized in their own projections, each referenced MULTIPLE
    times downstream — otherwise CollapseProject inlines the hash
    expression into the window lambda and the interpreter recomputes
    EVERY k-gram hash per window position: O(len^2 * k) per doc,
    measured 461 s for the whole sf0.1 corpus vs ~2 s materialized."""
    with_fps = winnow_fps(_docs(spark, sf_dir))
    return with_fps.select(
        "doc_id",
        F.when(F.col("fps").isNotNull(), F.size("fps"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_fingerprints"),
        F.when(
            F.col("fps").isNotNull(),
            F.md5(
                F.array_join(
                    F.transform("fps", lambda x: x.cast("string")), ","
                )
            ),
        )
        .otherwise(F.lit(""))
        .alias("fingerprint_md5"),
    )


def winnow_fps(docs: DataFrame) -> DataFrame:
    """(doc_id, fps): the per-document winnowing fingerprint SET (sorted
    distinct window minima; null for sub-window docs) — shared by the
    per-doc digest query and the overlap pair generator.

    Char codes are materialized ONCE per doc as an int array (`codes`):
    ascii(substr(text, p, 1)) walks the UTF8 bytes to position p — O(p)
    per access, O(len^2 * k) per doc on long documents.  `codes` is
    referenced 3x in the consuming projection (two sizes + the lambda),
    so CollapseProject cannot inline the split back into the hash lambda
    (the same hazard class documented below for `hs`)."""
    pre = docs.select(
        "doc_id",
        F.transform(F.split(F.col("text"), ""), F.ascii).alias("codes"),
    )
    n_h = F.size("codes") - F.lit(_WIN_K - 1)  # number of k-grams

    def kgram_hash(i):
        # flat Horner polynomial, ONE mod at the end — value-identical to
        # the per-step-modded fold ((x % M * B + c) % M == (x*B + c) % M)
        # and overflow-safe: max_codepoint * B^(k-1) * (1 + 1/B + ...)
        # ≈ 4.9e15 << 2^63.  Replaces a per-position interpreted
        # F.aggregate fold (its lambda machinery dominated the per-char
        # cost) with k gets + k-1 multiply-adds.
        acc = None
        for j in range(_WIN_K):
            g = F.get(F.col("codes"), (i + j).cast("int")).cast("long")
            acc = g if acc is None else acc * _WIN_B + g
        return acc % _WIN_M

    # size(codes) == length(text) for non-empty text; empty text splits
    # to [''] (size 1), still far below the eligibility floor
    eligible = F.size("codes") >= _WIN_K + _WIN_W - 1
    with_hashes = pre.select(
        "doc_id",
        F.when(
            eligible, F.transform(F.sequence(F.lit(0), n_h - 1), kgram_hash)
        ).alias("hs"),
    )
    # hs referenced 3x below -> the projection survives CollapseProject
    mins = F.transform(
        F.sequence(F.lit(0), F.size("hs") - F.lit(_WIN_W)),
        lambda s: F.array_min(F.slice(F.col("hs"), s + 1, F.lit(_WIN_W))),
    )
    return with_hashes.select(
        "doc_id",
        F.when(
            F.col("hs").isNotNull(), F.array_sort(F.array_distinct(mins))
        ).alias("fps"),
    )


def _winnow_mins_ctes() -> str:
    """hs/mins CTE bodies computing the per-doc fps set — shared by the
    per-doc digest oracle and the overlap-pairs oracle."""
    # DuckDB lacks a fold over lists with a custom lambda accumulator in
    # older syntax; list_reduce exists (>=0.10): reduce(l, (acc, x) -> ...)
    khash = (
        f"list_reduce(list_transform(range(0, {_WIN_K}), j -> "
        f"CAST(ascii(substring(text, CAST(i + j + 1 AS INTEGER), 1)) AS BIGINT)), "
        f"(acc, x) -> (acc * {_WIN_B} + x) % {_WIN_M})"
    )
    return f"""hs AS (
  SELECT doc_id, text,
    CASE WHEN LENGTH(text) >= {_WIN_K + _WIN_W - 1} THEN
      list_transform(range(0, LENGTH(text) - {_WIN_K - 1}), i -> {khash})
    END AS h
  FROM documents
), mins AS (
  SELECT doc_id,
    CASE WHEN h IS NOT NULL THEN
      list_sort(list_distinct(list_transform(
        range(0, len(h) - {_WIN_W - 1}),
        s -> list_min(h[CAST(s + 1 AS INTEGER):CAST(s + {_WIN_W} AS INTEGER)]))))
    END AS fps
  FROM hs
)"""


def _winnow_sql() -> str:
    return f"""
WITH {_winnow_mins_ctes()}
SELECT doc_id,
  CASE WHEN fps IS NOT NULL THEN len(fps) ELSE 0 END AS n_fingerprints,
  CASE WHEN fps IS NOT NULL
       THEN md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ','))
       ELSE '' END AS fingerprint_md5
FROM mins
"""


# --- tumbling-window rollup ----------------------------------------------------------------

_TUMBLE_MIN = 10


def q_event_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream's batch view —
    Spark's real ``F.window`` operator (the streaming-compatible
    groupBy, distinct from the analytic windows in sessionize_events):
    per 10-minute bucket and event_type, counts and integer value sums.
    Window starts exposed as epoch seconds (BIGINT) so the hash compare
    never touches timestamp formatting."""
    ev = _read(spark, sf_dir, "events")
    grouped = (
        ev.groupBy(
            F.window(F.col("ts"), f"{_TUMBLE_MIN} minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_sum_m"),
        )
    )
    start_s = (
        F.unix_micros(F.col("w.start").cast("timestamp_ltz")) / 1_000_000
    ).cast("long")
    return grouped.select(
        start_s.alias("window_start_s"), "event_type", "n_events", "value_sum_m"
    )


_WINDOW_ROLLUP_SQL = f"""
SELECT (epoch_us(ts) // {_TUMBLE_MIN * 60 * 1_000_000}) * {_TUMBLE_MIN * 60}
         AS window_start_s,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS value_sum_m
FROM events
GROUP BY 1, 2
"""


# --- as-of join --------------------------------------------------------------------------


def q_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — an operator Spark lacks natively: for every 'click'
    event, the most recent 'view' by the same user at or before the
    click.  Implemented as the classic union + running-last window (ONE
    shuffle on user_id, no join at all — the scale-correct formulation;
    a naive ts-range join is quadratic per user).  Deterministic
    ordering: (ts, kind view<click, event_id), so an equal-timestamp
    view counts as 'before' and ties are explicit.  DuckDB has a native
    ASOF JOIN, but its equal-key tie-breaking is unspecified, so the
    oracle mirrors this exact window formulation instead.

    The per-user running window is inherently one task per key, so the
    same _MAX_USER_EVENTS guard as sessionize_events bounds the largest
    partition (bot users excluded, in the plan, oracle-mirrored)."""
    from pyspark.sql import Window

    from .driver_queries_ext import _bounded_users

    ev = _bounded_users(_read(spark, sf_dir, "events"))
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    # single-pass kind projection (round 6): the previous union of two
    # filtered branches consumed the _bounded_users subtree twice — no
    # cross-branch CSE, so the count-pass + semi-join (and the events
    # scan) each executed twice.  A CASE over one filtered pass emits
    # the identical row set; the window re-sorts anyway.
    u = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", F.lit(0))
        .otherwise(F.lit(1))
        .alias("kind"),
        us.alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_view_id = F.last(
        F.when(F.col("kind") == 0, F.col("event_id")), ignorenulls=True
    ).over(w)
    last_view_us = F.last(
        F.when(F.col("kind") == 0, F.col("us")), ignorenulls=True
    ).over(w)
    return (
        u.withColumn("last_view_id", last_view_id)
        .withColumn("gap_us", (F.col("us") - last_view_us).cast("long"))
        .where(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            "last_view_id",
            "gap_us",
        )
    )


def _asof_sql() -> str:
    from .driver_queries_ext import _MAX_USER_EVENTS

    return f"""
WITH bounded AS (
  SELECT * FROM events
  WHERE user_id IN (SELECT user_id FROM events
                    GROUP BY user_id HAVING COUNT(*) <= {_MAX_USER_EVENTS})
), u AS (
  SELECT user_id, ts, event_id, 0 AS kind, epoch_us(ts) AS us
  FROM bounded WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS kind, epoch_us(ts) AS us
  FROM bounded WHERE event_type = 'click'
), marked AS (
  SELECT user_id, event_id, kind, us,
         last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
           OVER w AS last_view_id,
         last_value(CASE WHEN kind = 0 THEN us END IGNORE NULLS)
           OVER w AS last_view_us
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_id AS click_id, user_id, last_view_id,
       CAST(us - last_view_us AS BIGINT) AS gap_us
FROM marked WHERE kind = 1
"""


_ASOF_SQL = _asof_sql()


# --- winnowing overlap pairs (MOSS completed: fingerprints -> shared-substring pairs) ----

_WIN_MIN_SHARED = 32  # pairs must share >= 32 selected fingerprints — on a
# template-heavy corpus almost every pair shares a handful of boilerplate
# fingerprints (>= 2 kept 82% of ALL doc pairs at sf0.01); 32 isolates
# the genuinely-overlapping tail (101 pairs at sf0.01)


def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS use-case end-to-end: documents sharing winnowing
    fingerprints are overlap candidates; the guarantee (any common
    substring of length >= k+w-1 contributes a shared fingerprint) makes
    this the exact-substring-overlap detector MinHash can't be.  Pairs
    come from the SAME size-gated bucket machinery as every other dedup
    modality (_pairs_within_buckets on the fingerprint value — a
    boilerplate fingerprint shared by >256 docs is dropped, bounding
    fan-out), then counted per pair."""
    from .driver_queries_dedup import _pairs_within_buckets

    from pyspark import StorageLevel

    # PLAN BARRIER REQUIRED: exploding the computed fps column directly
    # lets the optimizer substitute the winnowing expression into the
    # Generate and its pruning projections — the k-gram hash reduce
    # appeared 7x in the physical plan and sf0.01 went from ~2 s to a
    # hang (the same CollapseProject family of blowups documented on
    # winnow_fingerprint).  Persisting the tiny per-doc fps frame makes
    # the Generate consume a bound attribute instead of an expression;
    # explode() also drops the null-fps (sub-window) rows by itself.
    fps = winnow_fps(_docs(spark, sf_dir)).persist(StorageLevel.MEMORY_AND_DISK)
    rows = fps.select("doc_id", F.explode("fps").alias("fp"))
    pairs = _pairs_within_buckets(rows, ["fp"], "doc_id", "doc_a", "doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _WIN_MIN_SHARED)
    )


def _winnow_pairs_sql() -> str:
    from .driver_queries_dedup import _MAX_BUCKET

    return f"""
WITH {_winnow_mins_ctes()},
fp AS (
  SELECT doc_id, unnest(fps) AS fp FROM mins WHERE fps IS NOT NULL
), sized AS (
  SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS bsz FROM fp
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sized a JOIN sized b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE a.bsz <= {_MAX_BUCKET}
)
SELECT doc_a, doc_b, COUNT(*) AS n_shared
FROM pairs GROUP BY doc_a, doc_b
HAVING COUNT(*) >= {_WIN_MIN_SHARED}
"""


# --- integer-exact TF-IDF keyword extraction ----------------------------------------------

_TFIDF_TOPK = 3


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k TF-IDF keywords — the classic corpus keyword
    extractor, made cross-engine bit-exact by an INTEGER idf:
    floor(log2(N/df)) computed as LENGTH(bin(N // df)) - 1 (no float log
    anywhere, so no rounding-boundary flake).  Shapes: one explode +
    two hash aggregations (term frequencies then document frequencies),
    a broadcast of the 1-row corpus count, and a per-doc top-k window —
    all partial-aggregable, no shuffle carries raw text."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf_int = F.length(F.bin((F.col("n_docs") / F.col("df")).cast("long"))) - 1
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", (F.col("tf") * idf_int).cast("long").alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TFIDF_TOPK)
        .select("doc_id", "rank", "term", "score")
    )


_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(TRIM(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term != ''
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term,
         CAST(tf * (LENGTH(bin(n_docs // df)) - 1) AS BIGINT) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, score FROM (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= {_TFIDF_TOPK}
"""


# --- BM25 ranked retrieval ----------------------------------------------------------------
#
# The ranked-search staple the term family was missing (tfidf_keywords
# ranks terms WITHIN a doc; this ranks DOCS for a query).  Queries are
# data-derived and deterministic: the corpus's document-frequency
# ranking yields 3 queries of 4 consecutive mid-band terms each.  All
# arithmetic is integer-exact cross-engine:
#
# - k1 = 1.2 and b = 0.75 enter as exact rationals; the tf saturation
#   term tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl) is evaluated as
#   one truncating division after cross-multiplying by 10*avgdl_m
#   (avgdl_m = milli-token average doc length, itself (T*1000) DIV N —
#   a scale-free quantity, so no operand grows with corpus size).
# - idf is the UN-LOGGED Robertson odds (N - df + 0.5) / (df + 0.5),
#   mille-scaled: ((N - df) * 2000 + 1000) DIV (2*df + 1).  The logged
#   form is inexpressible exactly in integers at useful precision
#   (floor-log2 collapses this corpus's narrow df band to 0); the
#   un-logged odds are monotone-identical per term and always positive
#   below df = N.  Disclosed surrogate, mirrored in the oracle.
# - the query-term band df*20 >= N (with df*10 <= 9*N excluding only
#   near-universal terms) bounds BOTH the df-rank window input (at most
#   20*avgdl terms can clear N/20 — a corpus-shape constant, the
#   length_quantiles argument) AND idf_mille at ~40000, keeping every
#   product far under 2^63 at any corpus scale.

_BM25_TOPK = 10
_BM25_QUERIES = 3
_BM25_QLEN = 4


def _bm25_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf): the shared tokenize + term-frequency agg."""
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    return terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def bm25_model(docs: DataFrame) -> DataFrame:
    """(query_id, term, df, n_docs, avgdl_m): the static retrieval
    model — the derived standing-query terms denormalized with the
    reference corpus statistics every scorer needs.  At most
    _BM25_QUERIES * _BM25_QLEN rows: broadcast wherever consumed, and
    small enough to persist as a table for the streaming scorer
    (streaming/bm25_stream.py)."""
    from pyspark.sql import Window

    tf = _bm25_tf(docs)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tok_total = tf.agg(F.sum("tf").alias("t_total"))
    stats = n_docs.crossJoin(tok_total).select(
        "n_docs", F.expr("(t_total * 1000) DIV n_docs").alias("avgdl_m")
    )
    band = dfreq.crossJoin(F.broadcast(n_docs)).where(
        (F.col("df") * 20 >= F.col("n_docs"))
        & (F.col("df") * 10 <= F.col("n_docs") * 9)
    )
    # bounded global window: at most 20*avgdl terms satisfy df >= N/20
    wq = Window.orderBy(F.desc("df"), F.asc("term"))
    return (
        band.withColumn("rn", F.row_number().over(wq) - 1)
        .where(F.col("rn") < _BM25_QUERIES * _BM25_QLEN)
        .select(
            (F.col("rn") / _BM25_QLEN).cast("long").alias("query_id"),
            "term",
            "df",
        )
        .crossJoin(F.broadcast(stats))
    )


def bm25_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """(query_id, doc_id, score_micro): BM25 of every (standing query,
    doc) pair with at least one term match — the scorer half shared by
    the batch query and the streaming standing-query router.  dl is a
    per-doc property, so it derives from the scored batch itself; every
    corpus-global quantity (df, n_docs, avgdl_m) rides the model row."""
    tf = _bm25_tf(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    idf_mille = F.expr("((n_docs - df) * 2000 + 1000) DIV (2 * df + 1)")
    tf_part_mille = F.expr(
        "(22000 * tf * avgdl_m) DIV (10 * tf * avgdl_m + 3 * avgdl_m + 9000 * dl)"
    )
    return (
        tf.join(F.broadcast(model), "term")
        .join(dl, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (idf_mille * tf_part_mille).cast("long").alias("contrib"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score_micro"))
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 docs for 3 deterministic 4-term queries.  Shape: one
    explode -> tf hash agg feeding dfreq, dl and the match join
    (deliberately NOT persisted: the subtree is one cheap explode+agg
    and the racing recomputes overlap idle cores — A/B at sf0.1
    measured 3.5 s unpersisted vs 4.7 s with an eager fill, the
    gram_sets lesson), a 12-row broadcast of the derived query terms,
    one groupBy(query, doc) sum, and a 3-partition top-k window
    (Spark 4 plans a map-side WindowGroupLimit, so no executor sees
    more than ~k rows per partition pre-shuffle)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    scored = bm25_score(docs, bm25_model(docs))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "rank", "doc_id", "score_micro")
    )


_BM25_SQL = f"""
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(TRIM(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms
  WHERE term != '' GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), stats AS (
  SELECT n_docs, (CAST(SUM(tf) AS BIGINT) * 1000) // n_docs AS avgdl_m
  FROM tf, n GROUP BY n_docs
), qterms AS (
  SELECT CAST(rn // {_BM25_QLEN} AS BIGINT) AS query_id, term, df FROM (
    SELECT term, df,
           ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) - 1 AS rn
    FROM dfreq, n
    WHERE df * 20 >= n_docs AND df * 10 <= n_docs * 9
  ) WHERE rn < {_BM25_QUERIES * _BM25_QLEN}
), scored AS (
  SELECT query_id, tf.doc_id,
         CAST(SUM(
           (((n_docs - df) * 2000 + 1000) // (2 * df + 1))
           * ((22000 * tf * avgdl_m)
              // (10 * tf * avgdl_m + 3 * avgdl_m + 9000 * dl))
         ) AS BIGINT) AS score_micro
  FROM tf
  JOIN qterms USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY query_id, tf.doc_id
)
SELECT query_id, rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {_BM25_TOPK}
"""

EXTRA_QUERIES_CORPUS["bm25_topk"] = q_bm25_topk
EXTRA_ORACLES_CORPUS["bm25_topk"] = _BM25_SQL


QUERIES_CORPUS = {
    "tfidf_keywords": q_tfidf_keywords,
    "winnow_overlap_pairs": q_winnow_overlap_pairs,
    "asof_last_view": q_asof_last_view,
    "event_window_rollup": q_event_window_rollup,
    "winnow_fingerprint": q_winnow_fingerprint,
    "vocab_stats": q_vocab_stats,
    "length_quantiles": q_length_quantiles,
    "top_terms": q_top_terms,
    "redact_pii": q_redact_pii,
    "contamination_pairs": q_contamination_pairs,
}

ORACLES_CORPUS = {
    "tfidf_keywords": _TFIDF_SQL,
    "winnow_overlap_pairs": _winnow_pairs_sql(),
    "asof_last_view": _ASOF_SQL,
    "event_window_rollup": _WINDOW_ROLLUP_SQL,
    "winnow_fingerprint": _winnow_sql(),
    "vocab_stats": _VOCAB_SQL,
    "length_quantiles": _QUANTILES_SQL,
    "top_terms": _TOP_TERMS_SQL,
    "redact_pii": _redact_sql(),
    "contamination_pairs": _contamination_sql(),
}
