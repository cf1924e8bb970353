"""Driver-facing queries over the generic testdata tables + DuckDB oracles.

Each entry here is one operator family from SURVEY.md §2 (or a net-new
training-data-pipeline operator) expressed twice:

- ``QUERIES[name](spark, sf_dir)`` — the Spark implementation, exercising
  the engine's real path (Arrow UDFs calling coa_ocr_simple_spark.core
  for extraction semantics; pure DataFrame ops for relational/dedup/text
  ops);
- ``ORACLES[name]`` — ANSI/DuckDB SQL over the same parquet views.

Cross-engine determinism rules used throughout:
- aggregates on money/quantity cast to DECIMAL (exact, order-insensitive);
- confidences exposed as ROUND(x*100) ints (no float-hash flake; the
  classify bank sizes 6/6/10 can never produce an exact .5 boundary);
- regexes kept inside RE2 ∩ Python-re common semantics for oracle-checked
  queries (inline (?i), \\b, \\s, non-greedy all agree);
- md5() for content hashing (identical hex in Spark and DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core import classify
from ..core.entities import _first_match
from ..core.fingerprint import document_fingerprint
from ..core.patterns import (
    COA_BATCH_PATTERNS,
    COA_CAS_PATTERNS,
    COA_CLASS_PATTERNS,
    COA_PURITY_PATTERNS,
    PRODUCT_NAME_PATTERNS,
    SDS_CLASS_PATTERNS,
    TDS_CLASS_PATTERNS,
)
from ..functions.udfs import row_udf


def _spread(df: DataFrame, path: str) -> DataFrame:
    """Small-file guard: a tiny parquet lands in one input split, which
    serializes every CPU-heavy per-row expression in the scan stage onto
    one core (measured: 4.75 s -> sub-second for the md5-shingle MinHash
    at sf0.1).  Repartition up to the session parallelism ONLY when the
    whole input is smaller than one split — at real scale the input has
    far more splits than cores, so this is a no-op and adds no shuffle
    to the 100-TB plan.  The size probe is a driver-side os.stat (a
    ``df.rdd.getNumPartitions()`` probe costs ~0.25 s of plan->RDD
    translation per query); a non-local path (hdfs/s3) stats as absent
    and is treated as large, which is the right default there."""
    import os

    try:
        if os.path.isdir(path):
            # a hive-partitioned layout (subdirectories) is a real table,
            # not a tiny test file: treat it as large and never repartition
            # (round-2 advice — a non-recursive sum would stat it as tiny
            # and shuffle the whole table, inverting the guard's purpose)
            entries = [e for e in os.scandir(path) if not e.name.startswith((".", "_"))]
            if any(e.is_dir() for e in entries):
                return df
            sizes = [e.stat().st_size for e in entries]
        else:
            sizes = [os.path.getsize(path)]
    except OSError:
        return df
    total = sum(sizes)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # potential input splits: each file contributes ceil(size / split)
    split_bytes = 128 * 1024 * 1024  # default maxPartitionBytes
    splits = sum(max(1, -(-s // split_bytes)) for s in sizes)
    # starved-scan guard (round 3): a table whose split count is below
    # the core count serializes every CPU-heavy per-row expression onto
    # those few cores (measured: a 150 MB / 10-file stress corpus ran
    # the shingle transform on 10 of 32 cores — 3.2x slower).  Spread it
    # when the one-off shuffle is cheap (< 256 MB); above that the scan
    # is band-width-bound anyway and at real scale splits >> cores.
    if splits < parallelism and total < 256 * 1024 * 1024:
        return df.repartition(parallelism)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/documents.parquet"
    return _spread(spark.read.parquet(path), path)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    path = f"{sf_dir}/{table}.parquet"
    return _spread(spark.read.parquet(path), path)


# --- classification (SURVEY §2.3 C1) --------------------------------------------

_CLASSIFY_SCHEMA = StructType(
    [
        StructField("doc_type", StringType()),
        StructField("confidence_pct", IntegerType()),
    ]
)


def _classify(t: str | None) -> dict:
    doc_type, conf = classify(t if t is not None else "")
    return {"doc_type": doc_type, "confidence_pct": round(conf * 100)}


_classify_udf = row_udf(_CLASSIFY_SCHEMA, _classify)


def q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    c = _classify_udf(F.col("text"))
    return docs.select(
        "doc_id",
        c["doc_type"].alias("doc_type"),
        c["confidence_pct"].alias("confidence_pct"),
    )


def _sql_bank_hits(bank: list[str]) -> str:
    terms = " + ".join(
        f"CASE WHEN regexp_matches(lower(text), '{p}') THEN 1 ELSE 0 END"
        for p in bank
    )
    return f"({terms})"


def _classify_oracle_sql(src: str = "documents") -> str:
    sds = _sql_bank_hits(SDS_CLASS_PATTERNS)
    tds = _sql_bank_hits(TDS_CLASS_PATTERNS)
    coa = _sql_bank_hits(COA_CLASS_PATTERNS)
    return f"""
WITH hits AS (
  SELECT doc_id,
         {sds} AS s, {tds} AS t, {coa} AS c
  FROM {src}
)
SELECT doc_id,
  CASE WHEN s + t + c = 0 THEN 'unknown'
       WHEN s > t AND s > c THEN 'sds'
       WHEN t > s AND t > c THEN 'tds'
       WHEN c > s AND c > t THEN 'coa'
       ELSE 'unknown' END AS doc_type,
  CAST(ROUND(CASE WHEN s + t + c = 0 THEN 0.1
       WHEN s > t AND s > c THEN LEAST(s / 6.0, 0.95)
       WHEN t > s AND t > c THEN LEAST(t / 6.0, 0.95)
       WHEN c > s AND c > t THEN LEAST(c / 10.0, 0.95)
       ELSE 0.3 END * 100) AS INTEGER) AS confidence_pct
FROM hits
"""


# --- first-match-wins field extraction (SURVEY §2.2 P2) ---------------------------

_FIELDS_SCHEMA = StructType(
    [
        StructField("product_name", StringType()),
        StructField("batch_number", StringType()),
        StructField("cas_number", StringType()),
        StructField("purity", StringType()),
    ]
)


def _fields(t: str | None) -> dict:
    t = t if t is not None else ""
    return {
        "product_name": _first_match(t, PRODUCT_NAME_PATTERNS),
        "batch_number": _first_match(t, COA_BATCH_PATTERNS),
        "cas_number": _first_match(t, COA_CAS_PATTERNS),
        "purity": _first_match(t, COA_PURITY_PATTERNS),
    }


_fields_udf = row_udf(_FIELDS_SCHEMA, _fields)


def q_extract_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    e = _fields_udf(F.col("text"))
    return docs.select(
        "doc_id",
        e["product_name"].alias("product_name"),
        e["batch_number"].alias("batch_number"),
        e["cas_number"].alias("cas_number"),
        e["purity"].alias("purity"),
    )


def _sql_first_match(bank: list[str]) -> str:
    """COALESCE over NULLIF'd regexp_extract calls == first-match-wins.

    Python's ``.strip()`` after group(1) -> TRIM.  Patterns here avoid
    constructs where RE2 and Python re diverge.
    """
    parts = []
    for p in bank:
        sql_pat = p.replace("'", "''")
        parts.append(f"NULLIF(TRIM(regexp_extract(text, '{sql_pat}', 1)), '')")
    return "COALESCE(" + ", ".join(parts) + ")"


def _fields_oracle_sql() -> str:
    return f"""
SELECT doc_id,
  {_sql_first_match(PRODUCT_NAME_PATTERNS)} AS product_name,
  {_sql_first_match(COA_BATCH_PATTERNS)} AS batch_number,
  {_sql_first_match(COA_CAS_PATTERNS)} AS cas_number,
  {_sql_first_match(COA_PURITY_PATTERNS)} AS purity
FROM documents
"""


# --- classification rollup (metrics aggregate, SURVEY §2.7 A3) ---------------------


def q_doc_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification rollup.  ``n_chars`` rides along in the same scan/
    select as the classify UDF — no self-join back to documents, so the
    only exchange is the groupBy itself."""
    docs = _docs(spark, sf_dir)
    c = _classify_udf(F.col("text"))
    return (
        docs.select(
            "n_chars",
            c["doc_type"].alias("doc_type"),
            c["confidence_pct"].alias("confidence_pct"),
        )
        .groupBy("doc_type")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max("confidence_pct").alias("max_confidence_pct"),
        )
    )


def _doc_type_counts_oracle_sql() -> str:
    return f"""
WITH classified AS ({_classify_oracle_sql()})
SELECT c.doc_type AS doc_type,
       COUNT(*) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       MAX(c.confidence_pct) AS max_confidence_pct
FROM classified c JOIN documents d USING (doc_id)
GROUP BY c.doc_type
"""


# --- exact deduplication (net-new training-data op) --------------------------------


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Content-hash dedup: one representative per distinct text, dup count.
    DataFrame-level form, shared by the driver query and jobs/curate.py."""
    return docs.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("representative_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(_docs(spark, sf_dir))


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS representative_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# --- token counting + stopword-based language/quality signals -----------------------

_STOP_EN = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"]


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + English stopword hits + longest token —
    building blocks of quality scoring, all JVM-side (no UDF).

    Tokenize in a separate projection: the split runs once per row and
    the three stats read the materialized array (CollapseProject will
    not re-inline a non-cheap expression referenced three times)."""
    docs = _docs(spark, sf_dir)
    tokens = F.when(F.length(F.trim(F.col("text"))) == 0, F.array()).otherwise(
        F.split(F.trim(F.col("text")), r"\s+")
    )
    toks_df = docs.select("doc_id", tokens.alias("toks"))
    stop_lit = F.array(*[F.lit(s) for s in _STOP_EN])
    # BIGINT casts: DuckDB len()/list_max return BIGINT; keep widths equal
    return toks_df.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(
            F.filter(
                F.transform("toks", lambda t: F.lower(t)),
                lambda t: F.array_contains(stop_lit, t),
            )
        )
        .cast("long")
        .alias("n_stopwords"),
        F.array_max(F.transform("toks", lambda t: F.length(t)))
        .cast("long")
        .alias("max_token_len"),
    )


_TEXT_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
              ELSE regexp_split_to_array(TRIM(text), '\\s+') END AS tokens
  FROM documents
)
SELECT doc_id,
       len(tokens) AS n_tokens,
       len(list_filter(tokens, t -> list_contains(
           {_STOP_EN!r}, lower(t)))) AS n_stopwords,
       list_max(list_transform(tokens, t -> LENGTH(t))) AS max_token_len
FROM toks
"""


# --- document fingerprint (SURVEY §2.6 D2) -------------------------------------------


def _fingerprint(t: str | None) -> str:
    return document_fingerprint(t) if t else ""


_fingerprint_udf = row_udf(StringType(), _fingerprint)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", _fingerprint_udf(F.col("text")).alias("fingerprint")
    )


_FINGERPRINT_SQL = """
SELECT doc_id,
  CASE WHEN text IS NULL OR text = '' THEN '' ELSE
    array_to_string(
      list_transform(
        list_filter(string_split(text, chr(10)), l -> LENGTH(TRIM(l)) > 0)[1:20],
        l -> substring(TRIM(l), 1, 2)),
      '') || '_L' || CAST(LENGTH(text) // 100 AS VARCHAR)
  END AS fingerprint
FROM documents
"""


# --- MinHash candidate pairs (near-dup, net-new) --------------------------------------

_MINHASH_BANDS = 8
_SHINGLE = 8

# any supplementary-plane (astral) code point: rows containing one must
# take the exact char-array shingle path (see _char_shingles)
_ASTRAL_RX = "[\\x{10000}-\\x{10FFFF}]"


def _char_shingles(df: DataFrame, k: int, out: str = "sh") -> DataFrame:
    """(input columns..., ``out``): all overlapping k-char shingles of
    ``text`` as one array column — value-identical to slicing the char
    array per position, several times cheaper on the BMP-only fast path.

    Fast path: ONE codegen'd ``regexp_extract_all`` with a zero-width
    lookahead ``(?s)(?=(.{k}))`` replaces len(text) interpreted
    slice+concat_ws lambda evaluations per document (measured ~2x on the
    shingle stage, round 6).  Java's regex loop restarts one UTF-16 code
    UNIT after each zero-width match, so on astral (non-BMP) content it
    would emit extra lone-surrogate shingles; rows matching _ASTRAL_RX
    therefore take the original char-array branch (codepoint-exact, and
    still linear: the array is a bound attribute materialized once in
    this projection, so CollapseProject cannot re-inline the split into
    the HOF lambda).  Sub-k docs contribute one whole-text shingle in
    both branches (slice of a short array == the full text).
    """
    rx = f"(?s)(?=(.{{{k}}}))"
    # only astral rows split: _cs is NULL on BMP rows, and its three
    # references below keep CollapseProject from inlining the split
    pre = df.withColumn(
        "_cs",
        F.when(F.col("text").rlike(_ASTRAL_RX), F.split(F.col("text"), "")),
    )
    n = F.greatest(F.size("_cs") - F.lit(k - 1), F.lit(1))
    slow = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws("", F.slice(F.col("_cs"), i + 1, F.lit(k))),
    )
    shingles = (
        F.when(F.col("_cs").isNotNull(), slow)
        .when(F.length("text") < k, F.array(F.col("text")))
        .otherwise(F.regexp_extract_all(F.col("text"), F.lit(rx), 1))
    )
    keep = [c for c in df.columns if c != "text"]
    return pre.select(*keep, shingles.alias(out))


def minhash_bands(docs: DataFrame) -> DataFrame:
    """MinHash-LSH banding, built entirely from JVM-side functions.

    One md5 per char-8-shingle; band b's hash family is the 8-hex-char
    slice of that digest at offset 3b (slices of a cryptographic digest
    are independent uniform orderings, so min-over-slice is a valid
    MinHash per band — and it is 8x cheaper than salting the digest per
    band).  Docs sharing a (band, signature) bucket are near-dup
    candidates; identical texts agree on all bands.

    Shape (round 3): shingles EXPLODE to rows and the 8 band minima are
    8 ``min()`` aggregates in one codegen'd hash aggregation with
    map-side combine — the shuffle carries only 8 short strings per doc.
    The previous per-row formulation materialized a len(text)-element
    digest array plus 8 more per-band slice arrays per document; for a
    long document that is ~1 MB of short-lived UnsafeArrayData per row
    in interpreted HOFs, and it measured ~25% slower at 3.6 kB docs
    (75 s -> 61 s on the 50k x 3.6 kB stress corpus) with memory growing
    linearly in document length.  The aggregation buffer here is
    constant-size per doc regardless of length — the shape that
    survives 100 TB of long documents.

    A STREAMING input instead takes the stateless per-row formulation
    (identical minima, no aggregation): a groupBy on an unbounded stream
    would be a watermark-requiring stateful aggregation, and
    streaming/neardup_stream.py needs the bands map-only so its ONLY
    state is the explicit applyInPandasWithState bucket store.
    """
    if docs.isStreaming:
        return _minhash_bands_rowwise(docs)
    # shingling via _char_shingles (round 6): regexp lookahead fast path,
    # char-array branch for astral rows — never substr(text, i, k), whose
    # per-position byte walk is O(len^2) per document (measured 3.4x time
    # for 2x length on book-length docs).
    hashed = (
        _char_shingles(docs.select("doc_id", "text"), _SHINGLE)
        .select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", F.md5("s").alias("h"))
    )
    # numeric band minima (round 6): min() over a STRING aggregation
    # buffer falls back to SortAggregate (the whole exploded shingle
    # stream is sorted before partial aggregation); an 8-char lowercase
    # hex slice orders identically to its numeric value (fixed width,
    # '0'-'9' < 'a'-'f'), so aggregate min(conv(slice, 16, 10)) as a
    # LONG — HashAggregate with map-side combine — and re-format with
    # %08x: bit-identical signatures, no sort of the 18M-row stream.
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(F.col("h").substr(F.lit(1 + 3 * b), F.lit(8)), 16, 10).cast(
                    "long"
                )
            ).alias(f"_b{b}")
            for b in range(_MINHASH_BANDS)
        ]
    )
    sigs = F.array(
        *[F.format_string("%08x", F.col(f"_b{b}")) for b in range(_MINHASH_BANDS)]
    )
    return mins.select(
        "doc_id", F.posexplode(sigs).alias("band", "signature")
    ).withColumn("band", F.col("band").cast("long"))


def _minhash_bands_rowwise(docs: DataFrame) -> DataFrame:
    """Stateless per-row band minima (streaming path): one digest array
    per document, 8 slice-min scans over it.  Identical output to the
    batch shape; memory scales with document length, which is acceptable
    per micro-batch.  Same char-array shingling as the batch path (the
    per-position substr walk is O(len^2) per doc); `cs` is referenced
    twice in its consuming projection so it survives CollapseProject."""
    pre = docs.select("doc_id", F.split(F.col("text"), "").alias("cs"))
    n = F.greatest(F.size("cs") - F.lit(_SHINGLE - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.md5(F.concat_ws("", F.slice(F.col("cs"), i + 1, F.lit(_SHINGLE)))),
    )
    rows = pre.select("doc_id", hashes.alias("hs"))
    sigs = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("hs"), lambda h: h.substr(F.lit(1 + 3 * b), F.lit(8))
                )
            )
            for b in range(_MINHASH_BANDS)
        ]
    )
    return rows.select(
        "doc_id", F.posexplode(sigs).alias("band", "signature")
    ).withColumn("band", F.col("band").cast("long"))


def q_dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_bands(_docs(spark, sf_dir))


_MINHASH_SQL = f"""
WITH hashed AS (
  SELECT doc_id,
         list_transform(range(0, GREATEST(LENGTH(text) - {_SHINGLE - 1}, 1)),
                        i -> md5(substring(text, i + 1, {_SHINGLE}))) AS hs
  FROM documents
)
SELECT doc_id, band,
       list_min(list_transform(hs, h -> substring(h, 1 + 3 * band, 8))) AS signature
FROM hashed, range(0, {_MINHASH_BANDS}) AS b(band)
"""


# --- relational competence: decimal-exact aggregates + join top-k ----------------------


def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-exact partial-aggregable pricing rollup (TPC-H Q1 shape).

    Money is summed as DECIMAL (order-insensitive, exact) and exposed as
    integer cents (BIGINT) so the cross-engine value hash can never flake
    on float formatting."""
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(dec("l_quantity")) * 100).cast("long").alias("sum_qty_c"),
            (F.sum(dec("l_extendedprice")) * 100).cast("long").alias("sum_base_price_c"),
            (
                F.sum(
                    (
                        dec("l_extendedprice")
                        * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
                    ).cast("decimal(28,4)")
                )
                * 10000
            )
            .cast("long")
            .alias("sum_disc_price_c4"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_LINEITEM_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price_c,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(28,4))) * 10000 AS BIGINT) AS sum_disc_price_c4,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-joined revenue top-k with deterministic tie-break."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    li = _read(spark, sf_dir, "lineitem")
    revenue = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("decimal(28,4)")
            ).alias("order_revenue")
        )
    )
    joined = (
        orders.join(revenue, orders.o_orderkey == revenue.l_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            (F.sum("order_revenue").cast("decimal(38,4)") * 10000)
            .cast("long")
            .alias("revenue_c4")
        )
    )
    return joined.orderBy(F.desc("revenue_c4"), F.asc("c_custkey")).limit(10)


_TOP_CUSTOMERS_SQL = """
WITH rev AS (
  SELECT l_orderkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(28,4))) AS order_revenue
  FROM lineitem GROUP BY l_orderkey
)
SELECT c_custkey, c_name,
       CAST(CAST(SUM(order_revenue) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS revenue_c4
FROM orders o JOIN rev ON o.o_orderkey = rev.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue_c4 DESC, c_custkey ASC
LIMIT 10
"""


# --- registry ---------------------------------------------------------------------------

QUERIES = {
    "classify_documents": q_classify,
    "extract_fields": q_extract_fields,
    "doc_type_counts": q_doc_type_counts,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "fingerprint_docs": q_fingerprint,
    "dedup_minhash_bands": q_dedup_minhash_bands,
    "lineitem_pricing": q_lineitem_pricing,
    "top_customers": q_top_customers,
}

ORACLES = {
    "classify_documents": _classify_oracle_sql(),
    "extract_fields": _fields_oracle_sql(),
    "doc_type_counts": _doc_type_counts_oracle_sql(),
    "dedup_exact": _DEDUP_EXACT_SQL,
    "text_stats": _TEXT_STATS_SQL,
    "fingerprint_docs": _FINGERPRINT_SQL,
    "dedup_minhash_bands": _MINHASH_SQL,
    "lineitem_pricing": _LINEITEM_PRICING_SQL,
    "top_customers": _TOP_CUSTOMERS_SQL,
}
