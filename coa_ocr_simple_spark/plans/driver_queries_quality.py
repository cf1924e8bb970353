"""Wave-6 driver queries: corpus-quality + governance operators (round 3).

Completes the training-data toolbox with four ops every large corpus
build runs, each scale-shaped and DuckDB-oracled:

- ``repetition_stats``     — Gopher-style repetition filters (Rae et al.
  2021 §A1.1): duplicate-line fraction + most-frequent-word-bigram mass
  per document.  Line stats are pure per-row array ops; the bigram mode
  is explode -> count -> max (the only shape whose memory is bounded at
  10^12 docs — an in-row frequency map would put the whole doc's bigram
  set in one aggregation buffer).
- ``gram_decontamination`` — exact 13-token-gram train/eval overlap (the
  GPT-3 appendix-C decontamination rule; complements the fuzzy MinHash
  ``contamination_pairs``): explode md5'd 13-grams, equi-join eval
  grams against train grams, roll up per eval doc.  One shuffle on the
  gram hash; at 100 TB the eval side is tiny and broadcastable.
- ``source_quota_sample``  — deterministic per-source quota (cap each
  domain/source at K docs, ordered by a content-independent md5 rank):
  the anti-head-domain-bias sampler.  Partitioned window = parallel per
  source; for a mega-source, pre-filter by hash prefix first so the
  per-partition sort never sees more than ~K * safety rows.
- ``edit_distance_pairs``  — character-level Levenshtein on the LSH
  candidate pairs (never all-pairs): the byte-accurate near-dup score
  for short documents where token Jaccard is too coarse.  Integer
  distance + floor-percent, exact in both engines.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# leaf import FIRST: _md5_prefix_* must exist on this module before the
# dedup import below re-enters the package cycle (see plans/_hexing.py)
from ._hexing import _HEXS, _md5_prefix_sql, _md5_prefix_val  # noqa: F401
from .driver_queries import _docs
from .driver_queries_dedup import _MIN_BANDS_AGREE, minhash_candidate_pairs

# --- Gopher-style repetition filters ------------------------------------------------------

_DUP_LINE_PCT_MAX = 30  # Gopher: duplicate line fraction > 0.30 -> filter
_TOP_BIGRAM_PCT_MAX = 18  # Gopher: top word-2gram fraction > 0.18 -> filter


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signals + the composite filter verdict."""
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    line_stats = docs.select("doc_id", lines.alias("ls")).select(
        "doc_id",
        F.size("ls").cast("long").alias("n_lines"),
        F.when(F.size("ls") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                (F.size("ls") - F.size(F.array_distinct("ls"))) * 100 / F.size("ls")
            )
        )
        .alias("dup_line_pct"),
    )

    # tokens materialized in their own projection (>=2 downstream refs —
    # the CollapseProject re-inline hazard documented for winnowing)
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
    )
    # codegen'd pair build (round 6): explode arrays_zip'd adjacent pairs
    # and concat AFTER the Generate — replaces the interpreted
    # per-position concat lambda; value-identical bigram strings.
    from .bpe import _adjacent_pairs

    bigrams = toks.select(
        "doc_id", F.explode(_adjacent_pairs(F.col("t"))).alias("p")
    ).select(
        "doc_id",
        F.concat(F.col("p.a"), F.lit(" "), F.col("p.b")).alias("bg"),
    )
    bg_stats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("long").alias("top_bigram_count"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    joined = line_stats.join(bg_stats, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        "dup_line_pct",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(
            F.floor(F.col("top_bigram_count") * 100 / F.col("n_bigrams")), F.lit(0)
        )
        .cast("long")
        .alias("top_bigram_pct"),
    )
    return joined.select(
        "doc_id",
        "n_lines",
        "dup_line_pct",
        "n_bigrams",
        "top_bigram_pct",
        (
            (F.col("dup_line_pct") > _DUP_LINE_PCT_MAX)
            | (F.col("top_bigram_pct") > _TOP_BIGRAM_PCT_MAX)
        )
        .cast("int")
        .cast("long")
        .alias("is_repetitive"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(_docs(spark, sf_dir))


_REPETITION_SQL = f"""
WITH lines AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), l -> TRIM(l)),
                     l -> l != '') AS ls
  FROM documents
), linestats AS (
  SELECT doc_id, len(ls) AS n_lines,
         CASE WHEN len(ls) = 0 THEN 0
              ELSE CAST(FLOOR((len(ls) - len(list_distinct(ls))) * 100.0 / len(ls)) AS BIGINT)
         END AS dup_line_pct
  FROM lines
), toks AS (
  SELECT doc_id, regexp_split_to_array(lower(TRIM(text)), '\\s+') AS t FROM documents
), bg AS (
  SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS b
  FROM toks, unnest(range(0, GREATEST(len(t) - 1, 0))) AS r(i)
), bgcount AS (
  SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
), bgstats AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count,
         CAST(SUM(c) AS BIGINT) AS n_bigrams
  FROM bgcount GROUP BY doc_id
)
SELECT l.doc_id, l.n_lines, l.dup_line_pct,
       COALESCE(s.n_bigrams, 0) AS n_bigrams,
       COALESCE(CAST(FLOOR(s.top_bigram_count * 100.0 / s.n_bigrams) AS BIGINT), 0)
         AS top_bigram_pct,
       CAST(CASE WHEN l.dup_line_pct > {_DUP_LINE_PCT_MAX}
                   OR COALESCE(CAST(FLOOR(s.top_bigram_count * 100.0 / s.n_bigrams) AS BIGINT), 0)
                      > {_TOP_BIGRAM_PCT_MAX}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
FROM linestats l LEFT JOIN bgstats s USING (doc_id)
"""


# --- full Gopher quality-signal suite -----------------------------------------------------

# Rae et al. 2021 (Gopher), Appendix A1.1 document filters not already
# covered by repetition_stats (which owns dup-line % and top-bigram %):
#   mean word length outside [3, 10]          -> filter
#   symbol-to-word ratio (#, ...) > 0.1       -> filter
#   > 90 % of lines start with a bullet       -> filter
#   > 30 % of lines end with an ellipsis      -> filter
#   < 80 % of words contain an alphabetic char-> filter
# plus the duplicate-line CHARACTER fraction (the char-weighted sibling
# of repetition_stats' dup_line_pct).  All signals are exact integers
# (permille/percent) so the DuckDB oracle hash-matches bit-for-bit.
_GQ_MWL_MIN_MILLI = 3000
_GQ_MWL_MAX_MILLI = 10000
_GQ_SYM_MAX_PERMILLE = 100
_GQ_BULLET_MAX_PCT = 90
_GQ_ELLIPSIS_MAX_PCT = 30
_GQ_ALPHA_MIN_PCT = 80


def _gopher_line_stats_exploded(docs: DataFrame) -> DataFrame:
    """Line signals via ONE explode -> (doc_id, line) count agg ->
    per-doc agg (constant memory per task, the repetition_stats shape)
    — the batch form."""
    ln = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.transform(F.split(F.col("text"), "\n"), lambda l: F.trim(l)),
                lambda l: l != "",
            )
        ).alias("l"),
    )
    per_line = ln.groupBy("doc_id", "l").agg(F.count(F.lit(1)).alias("c"))
    is_ell = (
        F.col("l").endswith("...") | F.col("l").endswith("…")
    ).cast("long")
    is_bul = F.substring("l", 1, 1).isin("-", "*", "•").cast("long")
    return per_line.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_lines"),
        F.sum(F.col("c") * F.length("l")).cast("long").alias("line_chars"),
        F.sum((F.col("c") - 1) * F.length("l")).cast("long").alias("dup_chars"),
        F.sum(F.col("c") * is_ell).cast("long").alias("ell"),
        F.sum(F.col("c") * is_bul).cast("long").alias("bul"),
    )


def _gopher_sym() -> "F.Column":
    # '...' occurrences are counted non-overlapping left-to-right by
    # replace() in BOTH engines; the length deltas are exact multiples
    return (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit(""))))
        + F.floor(
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
            )
            / 3
        )
        + (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("…"), F.lit("")))
        )
    )


def _gopher_word_cols():
    # consumes a frame with (text, t); t has 2 lexical refs (size +
    # alpha filter) so the split materializes here instead of being
    # re-inlined per lambda element
    return [
        F.size("t").cast("long").alias("n_words"),
        F.length(F.regexp_replace("text", r"\s+", "")).cast("long").alias("nonws"),
        F.size(F.filter("t", lambda w: w.rlike("[A-Za-z]")))
        .cast("long")
        .alias("n_alpha"),
        _gopher_sym().cast("long").alias("sym"),
    ]


def gopher_quality_signals(docs: DataFrame) -> DataFrame:
    """Per-doc Gopher quality signals + composite verdict.

    Shape, batch: line signals ride ONE explode -> (doc_id, line) count
    agg -> per-doc agg (constant memory per task, the repetition_stats
    shape); word signals are a pure per-row JVM projection; one doc_id
    join stitches them.  Shape, streaming: a completely join-free
    single projection chain (the stateless sorted-adjacent rowwise line
    form — a groupBy OR a self-join on a stream would be stateful),
    parity-pinned against the batch form by
    test_gopher_rowwise_matches_exploded.  Every division is guarded
    and floored so the oracle is exact."""
    if docs.isStreaming:
        return _gopher_verdict(_gopher_raw_rowwise(docs))
    line_stats = _gopher_line_stats_exploded(docs)
    words = docs.select(
        "doc_id",
        F.col("text"),
        F.split(F.trim(F.col("text")), r"\s+").alias("t"),
    ).select("doc_id", *_gopher_word_cols())
    return _gopher_verdict(words.join(line_stats, "doc_id", "left"))


def _gopher_raw_rowwise(docs: DataFrame) -> DataFrame:
    """All ten raw signal columns in ONE join-free projection chain —
    the streaming form.  ``ls``/``sl``/``t`` are each materialized in
    their own projection with >= 2 lexical references downstream so
    CollapseProject cannot re-inline the split/sort into the HOF
    lambdas (the known hazard)."""
    ls_expr = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    base = docs.select(
        "doc_id",
        "text",
        ls_expr.alias("ls"),
        F.split(F.trim(F.col("text")), r"\s+").alias("t"),
    ).select("doc_id", "text", "ls", "t", F.array_sort("ls").alias("sl"))
    zero = F.lit(0).cast("long")
    n = F.size("sl")
    dup_chars = F.when(
        n >= 2,
        F.aggregate(
            F.zip_with(
                F.slice("sl", 1, n - 1),
                F.slice(F.col("sl"), 2, n - 1),
                lambda x, y: F.when(x == y, F.length(x)).otherwise(F.lit(0)),
            ),
            zero,
            lambda acc, v: acc + v,
        ),
    ).otherwise(zero)
    return base.select(
        "doc_id",
        F.size("ls").cast("long").alias("n_lines"),
        F.aggregate("ls", zero, lambda acc, l: acc + F.length(l))
        .cast("long")
        .alias("line_chars"),
        dup_chars.cast("long").alias("dup_chars"),
        F.size(
            F.filter("ls", lambda l: l.endswith("...") | l.endswith("…"))
        )
        .cast("long")
        .alias("ell"),
        F.size(
            F.filter("ls", lambda l: F.substring(l, 1, 1).isin("-", "*", "•"))
        )
        .cast("long")
        .alias("bul"),
        *_gopher_word_cols(),
    )


def _gopher_verdict(raw: DataFrame) -> DataFrame:
    """Final permille/percent projection + composite verdict over the
    raw signal columns (line columns may be null from the batch form's
    left join — docs with no lines coalesce to 0)."""
    sig = raw.select(
        "doc_id",
        F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
        "n_words",
        F.floor(F.col("nonws") * 1000 / F.col("n_words"))
        .cast("long")
        .alias("mean_word_len_milli"),
        F.floor(F.col("sym") * 1000 / F.col("n_words"))
        .cast("long")
        .alias("symbol_word_permille"),
        F.when(F.coalesce("line_chars", F.lit(0)) == 0, F.lit(0))
        .otherwise(F.floor(F.col("dup_chars") * 1000 / F.col("line_chars")))
        .cast("long")
        .alias("dup_line_char_permille"),
        F.when(F.coalesce("n_lines", F.lit(0)) == 0, F.lit(0))
        .otherwise(F.floor(F.col("ell") * 100 / F.col("n_lines")))
        .cast("long")
        .alias("ellipsis_line_pct"),
        F.when(F.coalesce("n_lines", F.lit(0)) == 0, F.lit(0))
        .otherwise(F.floor(F.col("bul") * 100 / F.col("n_lines")))
        .cast("long")
        .alias("bullet_line_pct"),
        F.floor(F.col("n_alpha") * 100 / F.col("n_words"))
        .cast("long")
        .alias("alpha_word_pct"),
    )
    bad = (
        (F.col("mean_word_len_milli") < _GQ_MWL_MIN_MILLI)
        | (F.col("mean_word_len_milli") > _GQ_MWL_MAX_MILLI)
        | (F.col("symbol_word_permille") > _GQ_SYM_MAX_PERMILLE)
        | (F.col("bullet_line_pct") > _GQ_BULLET_MAX_PCT)
        | (F.col("ellipsis_line_pct") > _GQ_ELLIPSIS_MAX_PCT)
        | (F.col("alpha_word_pct") < _GQ_ALPHA_MIN_PCT)
    )
    return sig.select("*", bad.cast("int").cast("long").alias("is_gopher_bad"))


def q_gopher_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_quality_signals(_docs(spark, sf_dir))


# The Gopher CTE chain and badness predicate are factored out so the
# NB quality classifier's oracle can derive its training labels from
# the exact same SQL (nb_quality_classifier below distills these
# heuristics into a cheap hashed-feature classifier), parameterized by
# source table because the classifier runs on a synthesized corpus.
def _gopher_ctes(src: str = "documents") -> str:
    return f"""ln0 AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), l -> TRIM(l)),
                     l -> l != '') AS ls
  FROM {src}
), ln AS (
  SELECT doc_id, UNNEST(ls) AS l FROM ln0
), per_line AS (
  SELECT doc_id, l, COUNT(*) AS c FROM ln GROUP BY doc_id, l
), linestats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_lines,
         CAST(SUM(c * length(l)) AS BIGINT) AS line_chars,
         CAST(SUM((c - 1) * length(l)) AS BIGINT) AS dup_chars,
         CAST(SUM(c * CASE WHEN l LIKE '%...' OR l LIKE '%…'
                           THEN 1 ELSE 0 END) AS BIGINT) AS ell,
         CAST(SUM(c * CASE WHEN substring(l, 1, 1) IN ('-', '*', '•')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bul
  FROM per_line GROUP BY doc_id
), words AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS nonws,
         CAST(len(list_filter(regexp_split_to_array(TRIM(text), '\\s+'),
                              w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha,
         CAST((length(text) - length(replace(text, '#', '')))
            + (length(text) - length(replace(text, '...', ''))) // 3
            + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS sym
  FROM {src}
), sig AS (
  SELECT w.doc_id,
         COALESCE(l.n_lines, 0) AS n_lines,
         w.n_words,
         CAST(FLOOR(w.nonws * 1000.0 / w.n_words) AS BIGINT) AS mean_word_len_milli,
         CAST(FLOOR(w.sym * 1000.0 / w.n_words) AS BIGINT) AS symbol_word_permille,
         CASE WHEN COALESCE(l.line_chars, 0) = 0 THEN 0
              ELSE CAST(FLOOR(l.dup_chars * 1000.0 / l.line_chars) AS BIGINT)
         END AS dup_line_char_permille,
         CASE WHEN COALESCE(l.n_lines, 0) = 0 THEN 0
              ELSE CAST(FLOOR(l.ell * 100.0 / l.n_lines) AS BIGINT)
         END AS ellipsis_line_pct,
         CASE WHEN COALESCE(l.n_lines, 0) = 0 THEN 0
              ELSE CAST(FLOOR(l.bul * 100.0 / l.n_lines) AS BIGINT)
         END AS bullet_line_pct,
         CAST(FLOOR(w.n_alpha * 100.0 / w.n_words) AS BIGINT) AS alpha_word_pct
  FROM words w LEFT JOIN linestats l USING (doc_id)
)"""


_GOPHER_CTES = _gopher_ctes()

_GOPHER_BAD_COND = f"""mean_word_len_milli < {_GQ_MWL_MIN_MILLI}
                   OR mean_word_len_milli > {_GQ_MWL_MAX_MILLI}
                   OR symbol_word_permille > {_GQ_SYM_MAX_PERMILLE}
                   OR bullet_line_pct > {_GQ_BULLET_MAX_PCT}
                   OR ellipsis_line_pct > {_GQ_ELLIPSIS_MAX_PCT}
                   OR alpha_word_pct < {_GQ_ALPHA_MIN_PCT}"""

_GOPHER_SQL = f"""
WITH {_GOPHER_CTES}
SELECT *,
       CAST(CASE WHEN {_GOPHER_BAD_COND}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_gopher_bad
FROM sig
"""


# --- exact 13-gram train/eval decontamination ---------------------------------------------

_DECON_N = 13  # GPT-3 appendix C: 13-token overlap => contaminated
# hot-gram guard: the eval x train equi-join on the gram hash fans out
# |eval occurrences| x |train occurrences| PER GRAM in one task — a
# boilerplate sentence present in 10^8 train docs would explode a single
# join key.  Grams in more than this many TRAIN docs are excluded (an
# ultra-common gram is boilerplate, not leakage — the per-doc overlap it
# would add is noise, and genuinely contaminated docs still surface via
# their rarer grams).  Part of the query definition, oracle-mirrored,
# like _MAX_BUCKET.  Far above any gram frequency at the test SFs.
_MAX_GRAM_TRAIN_DOCS = 1000


def _token_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, g): md5 of each n-token window (space-joined, lowercased).

    The hash replaces the gram text on the wire: 32 hex chars instead of
    ~100 — the shuffle shrinks ~3x and the join key is fixed-width."""
    # index-explode shape (round 6, the block_occurrences recipe): the
    # cheap position sequence rides the Generate and the md5(concat_ws(
    # slice)) runs codegen'd AFTER it — replacing an interpreted
    # per-window transform lambda; the token array crosses the Generate
    # as a bound attribute (no copy), linear at any length.
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
    )
    ex = toks.where(F.size("t") >= n).select(
        "doc_id", "t", F.explode(F.sequence(F.lit(0), F.size("t") - n)).alias("i")
    )
    return ex.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("i") + 1, F.lit(n)))).alias("g"),
    )


def gram_decontamination(docs: DataFrame, n: int = _DECON_N) -> DataFrame:
    """Eval docs (doc_id % 10 == 0) sharing any exact n-token gram with a
    train doc, with the overlap mass: (eval_doc_id, n_overlap_grams,
    n_train_docs)."""
    # Only the TRAIN grams have two consumers (the hot-gram guard
    # aggregate and the pair join) and need a persist + eager fill — the
    # eval grams feed the join alone, so deriving them straight from the
    # 10% doc split skips materializing + caching that share entirely
    # (round-4 verdict: persisting the full corpus' grams wrote the eval
    # side's grams once for one cheap consumer; at 100 TB the eval split
    # is tiny and that write was the step's wall).  Each doc's grams are
    # still computed exactly once: the split filters are disjoint and
    # push down to the documents scan.
    ev = _token_grams(docs.where(F.col("doc_id") % 10 == 0), n).select(
        F.col("doc_id").alias("eval_doc_id"), "g"
    )
    tr = (
        _token_grams(docs.where(F.col("doc_id") % 10 != 0), n)
        .select(F.col("doc_id").alias("train_doc_id"), "g")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tr.count()  # eager fill: guard + join are independent consumers
    # hot-gram guard (see _MAX_GRAM_TRAIN_DOCS): distinct-doc count per
    # gram is a map-side-combinable aggregate over the persisted grams;
    # the semi-join keys the same column the pair join shuffles on
    ok_grams = (
        tr.groupBy("g")
        .agg(F.count_distinct("train_doc_id").alias("_g_n"))
        .where(F.col("_g_n") <= _MAX_GRAM_TRAIN_DOCS)
        .select("g")
    )
    tr = tr.join(ok_grams, "g", "left_semi")
    return (
        ev.join(tr, "g")
        .groupBy("eval_doc_id")
        .agg(
            F.countDistinct("g").alias("n_overlap_grams"),
            F.countDistinct("train_doc_id").alias("n_train_docs"),
        )
    )


def q_gram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gram_decontamination(_docs(spark, sf_dir))


_DECON_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(TRIM(text)), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, md5(array_to_string(t[i + 1:i + {_DECON_N}], ' ')) AS g
  FROM toks, unnest(range(0, GREATEST(len(t) - {_DECON_N} + 1, 0))) AS r(i)
), ev AS (
  SELECT doc_id AS eval_doc_id, g FROM grams WHERE doc_id % 10 = 0
), tr AS (
  SELECT doc_id AS train_doc_id, g FROM grams WHERE doc_id % 10 != 0
), bounded_tr AS (
  SELECT train_doc_id, g FROM tr
  WHERE g IN (SELECT g FROM tr GROUP BY g
              HAVING COUNT(DISTINCT train_doc_id) <= {_MAX_GRAM_TRAIN_DOCS})
)
SELECT eval_doc_id,
       COUNT(DISTINCT g) AS n_overlap_grams,
       COUNT(DISTINCT train_doc_id) AS n_train_docs
FROM ev JOIN bounded_tr USING (g)
GROUP BY eval_doc_id
"""


# --- per-source quota sampling ------------------------------------------------------------

_QUOTA_K = 15
_QUOTA_SAFETY = 16  # pre-filter targets ~16x the quota surviving per mega-source
_QUOTA_CAP = _QUOTA_SAFETY * _QUOTA_K  # sources above this get the hash pre-filter


def source_quota_sample(docs: DataFrame) -> DataFrame:
    """Keep at most K docs per source, ranked by a content-independent
    deterministic hash (md5 of the doc_id) — reproducible across engines
    and runs, no rand().  The window is PARTITIONED by source (parallel),
    and — round-3 verdict item 2 — the mega-source guard is IN the plan,
    not the prose: a first pass counts each source (tiny aggregate,
    broadcast back), and any source above _QUOTA_CAP rows admits only
    rows whose md5 4-hex-digit prefix satisfies

        prefix * src_n < _QUOTA_CAP * 65536      (integer cross-mult)

    i.e. an expected _QUOTA_CAP (= 16x quota) survivors per source, so
    no window partition ever sorts more than ~16x the quota regardless
    of skew — a source owning half a 10^12-doc corpus contributes ~240
    rows to its sort, not 5*10^11.  The cut is EXACT-result-preserving
    whenever >= K rows survive it: md5-string rank order is prefix-major,
    so the global top-K rows of a source all sit below any prefix
    threshold that admits >= K rows (P[fewer than K of an expected 240
    survive] is astronomically small; both engines apply the same rule,
    so parity holds unconditionally).  The rule is part of the query
    definition and is mirrored in the DuckDB oracle, like _MAX_BUCKET."""
    from pyspark.sql import Window

    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("_src_n"))
    survivors = _quota_survivors(docs, counts)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        survivors.select(
            "doc_id", "source", F.row_number().over(w).alias("sample_rank")
        )
        .where(F.col("sample_rank") <= _QUOTA_K)
        .withColumn("sample_rank", F.col("sample_rank").cast("long"))
    )


def _quota_survivors(docs: DataFrame, counts: DataFrame) -> DataFrame:
    """Rows admitted to the per-source ranking window: everything from
    small sources, an expected-_QUOTA_CAP hash-prefix slice of mega
    sources.  Split out so tests can assert the bound directly."""
    pref = docs.join(F.broadcast(counts), "source")
    p = _md5_prefix_val(F.col("doc_id"))
    return pref.where(
        (F.col("_src_n") <= _QUOTA_CAP)
        | (p * F.col("_src_n") < F.lit(_QUOTA_CAP * 65536))
    ).select("doc_id", "source")


def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_quota_sample(_docs(spark, sf_dir))


_QUOTA_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS src_n FROM documents GROUP BY source
), surv AS (
  SELECT d.doc_id, d.source
  FROM documents d JOIN counts c USING (source)
  WHERE c.src_n <= {_QUOTA_CAP}
     OR {_md5_prefix_sql("md5(CAST(d.doc_id AS VARCHAR))")} * c.src_n
        < {_QUOTA_CAP * 65536}
)
SELECT doc_id, source, sample_rank
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS sample_rank
  FROM surv
)
WHERE sample_rank <= {_QUOTA_K}
"""


# --- Levenshtein scoring of LSH candidates ------------------------------------------------

_EDIT_MAX_LEN = 20_000  # score only pairs whose longer side is <= this many chars


def edit_distance_pairs(docs: DataFrame) -> DataFrame:
    """Character-exact edit distance on the (hot-bucket-capped) MinHash
    candidates: lev + floor-percent of the longer length.  The O(L^2)
    dynamic program runs ONLY on LSH survivors — the standard
    cheap-filter / expensive-verify split, same as ngram_jaccard — AND
    only on pairs whose longer side is <= _EDIT_MAX_LEN chars
    (round-3 verdict item 4): one 1 MB near-dup pair would otherwise
    cost ~10^12 DP cell updates and become a straggler task.  Oversize
    pairs still emit a row (the pair IS a candidate) with NULL lev /
    lev_pct; the cap is part of the query definition, mirrored in the
    DuckDB oracle.  CASE WHEN is JVM-side here, so the gated levenshtein
    genuinely never executes for oversize rows (the whole-batch hazard
    only applies to Python UDFs)."""
    candidates = minhash_candidate_pairs(docs).where(
        F.col("n_bands_agree") >= _MIN_BANDS_AGREE
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    joined = candidates.join(a, "doc_a").join(b, "doc_b")
    gate = (F.length("ta") <= _EDIT_MAX_LEN) & (F.length("tb") <= _EDIT_MAX_LEN)
    lev = F.levenshtein("ta", "tb")
    longer = F.greatest(F.length("ta"), F.length("tb"), F.lit(1))
    return joined.select(
        "doc_a",
        "doc_b",
        F.when(gate, lev).cast("long").alias("lev"),
        F.when(gate, F.floor(lev * 100 / longer)).cast("long").alias("lev_pct"),
    )


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_distance_pairs(_docs(spark, sf_dir))


def _edit_distance_sql() -> str:
    from .driver_queries_dedup import _minhash_pairs_sql

    gate = (
        f"LENGTH(a.text) <= {_EDIT_MAX_LEN} AND LENGTH(b.text) <= {_EDIT_MAX_LEN}"
    )
    return f"""
WITH cand AS (
  SELECT doc_a, doc_b FROM ({_minhash_pairs_sql()})
  WHERE n_bands_agree >= {_MIN_BANDS_AGREE}
)
SELECT c.doc_a, c.doc_b,
       CASE WHEN {gate}
            THEN CAST(levenshtein(a.text, b.text) AS BIGINT) END AS lev,
       CASE WHEN {gate}
            THEN CAST(FLOOR(levenshtein(a.text, b.text) * 100.0 /
                 GREATEST(LENGTH(a.text), LENGTH(b.text), 1)) AS BIGINT) END AS lev_pct
FROM cand c
JOIN documents a ON c.doc_a = a.doc_id
JOIN documents b ON c.doc_b = b.doc_id
"""


# --- distributed prefix sum + training-sequence packing -----------------------------------

_PACK_BIN_TOKENS = 2048  # training sequence length
_SCAN_W = 4096  # bucket fan-in per scan level (power of two — see _scan_bucket)
_SCAN_BASE = 1024  # levels recurse until this many buckets remain

def _scan_bucket(col):
    """key // _SCAN_W as an arithmetic right shift: exact long FLOOR
    division for every int64 (the old ``(k / W).cast('long')`` double
    division truncated toward zero on negatives and lost precision above
    2^53).  Reads _SCAN_W at call time so tests can shrink it."""
    shift = _SCAN_W.bit_length() - 1
    assert 1 << shift == _SCAN_W, "_SCAN_W must be a power of two"
    return F.shiftright(col.cast("long"), shift)


def _bin_of(col):
    """token offset // _PACK_BIN_TOKENS via arithmetic shift — exact for
    the full long domain (a double division caps out at 2^53, which a
    10^12-doc token stream approaches)."""
    shift = _PACK_BIN_TOKENS.bit_length() - 1
    assert 1 << shift == _PACK_BIN_TOKENS, "_PACK_BIN_TOKENS must be a power of two"
    return F.shiftright(col.cast("long"), shift)


def _int_prefix_offsets(rows: DataFrame, key: str, val: str) -> DataFrame:
    """(key, off): sum of ``val`` over all rows with a strictly smaller
    integer ``key`` — a distributed prefix sum (scan).

    Hierarchical: each level buckets keys by //_SCAN_W and recurses on
    the bucket totals until <= _SCAN_BASE buckets remain; cross-bucket
    offsets at the top come from a bounded self-join (<= _SCAN_BASE^2
    pairs), and every other level uses a window PARTITIONED by its
    bucket — no global sort anywhere.  Depth is log_4096(N): 3 levels at
    10^12 rows.  The per-level count() probes are plan-build actions
    (like the CC loop); each level is persisted so the walk back down
    reads cached totals.

    Bucketing is an arithmetic right shift (_scan_bucket): exact FLOOR
    division for the full int64 key domain, negatives included — the old
    ``(k / W).cast('long')`` double division truncated toward zero on
    negatives and lost precision above 2^53 (guarded by
    test_prefix_sum.py's 2^60-key case).
    """
    from pyspark.sql import Window

    levels = [
        rows.select(F.col(key).alias("k"), F.col(val).alias("v")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    ]
    while levels[-1].count() > _SCAN_BASE:
        nxt = (
            levels[-1]
            .groupBy(_scan_bucket(F.col("k")).alias("k"))
            .agg(F.sum("v").alias("v"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        levels.append(nxt)

    top = levels[-1]
    off = (
        top.alias("a")
        .join(top.alias("b"), F.col("b.k") < F.col("a.k"), "left")
        .groupBy(F.col("a.k").alias("k"))
        .agg(F.coalesce(F.sum(F.col("b.v")), F.lit(0)).alias("off"))
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    for cur in reversed(levels[:-1]):
        boff = off.select(F.col("k").alias("bkt"), F.col("off").alias("boff"))
        off = (
            cur.withColumn("bkt", _scan_bucket(F.col("k")))
            .join(boff, "bkt")
            .select(
                "k",
                (F.coalesce(F.sum("v").over(w), F.lit(0)) + F.col("boff")).alias(
                    "off"
                ),
            )
        )
    return off


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-sequence packing: documents in doc_id order
    fill 2048-token bins back-to-back; each doc gets (bin_id, offset
    within the packed stream).  The running token offset is a distributed
    prefix sum (see _int_prefix_offsets) — the op every sample-packing /
    global-indexing job needs and Spark has no built-in for."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    off = _int_prefix_offsets(toks, "doc_id", "n_tokens")
    return (
        toks.join(off.withColumnRenamed("k", "doc_id"), "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            _bin_of(F.col("off")).alias("bin_id"),
            (F.col("off") % _PACK_BIN_TOKENS).cast("long").alias("bin_offset"),
        )
    )


_PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(off // {_PACK_BIN_TOKENS} AS BIGINT) AS bin_id,
       CAST(off % {_PACK_BIN_TOKENS} AS BIGINT) AS bin_offset
FROM o
"""


def q_sequence_packing_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-aware sequence packing (round-3 verdict item 5): the
    trainer-consumable mode.  ``sequence_packing`` indexes a contiguous
    token stream, so a document can straddle a 2048-token bin edge; here
    each document is SPLIT at bin edges into fragments
    (doc_id, bin_id, frag_start, frag_len, bin_offset) — frag_start is
    the token offset inside the doc, bin_offset the position inside the
    bin.  Concatenating a bin's fragments in bin_offset order yields one
    exactly-2048-token training sequence (the global last bin may be
    short); no fragment ever crosses a bin edge (invariant-tested).

    Same distributed prefix sum as sequence_packing, then a per-row
    explode over the doc's bin range — fan-out is ceil(n_tokens/2048)+1
    per doc (bounded by doc length), pure integer arithmetic, no extra
    shuffle."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    return packing_split(toks)


def packing_split(toks: DataFrame) -> DataFrame:
    """Boundary-aware packing over an arbitrary (doc_id, n_tokens) frame —
    the registered query feeds whitespace counts; a real export feeds the
    REAL tokenizer counts from ``plans.bpe.encode_corpus`` (round-4
    verdict item 2), e.g.::

        counts = encode_corpus(docs, merges).select("doc_id", "n_tokens")
        fragments = packing_split(counts)
    """
    off = _int_prefix_offsets(toks, "doc_id", "n_tokens")
    base = toks.join(off.withColumnRenamed("k", "doc_id"), "doc_id")
    frag = base.select(
        "doc_id",
        "n_tokens",
        "off",
        F.explode(
            F.sequence(
                _bin_of(F.col("off")),
                _bin_of(F.col("off") + F.col("n_tokens") - 1),
            )
        ).alias("bin_id"),
    )
    start_tok = F.greatest(F.col("bin_id") * _PACK_BIN_TOKENS, F.col("off"))
    end_tok = F.least(
        (F.col("bin_id") + 1) * _PACK_BIN_TOKENS, F.col("off") + F.col("n_tokens")
    )
    return frag.select(
        "doc_id",
        F.col("bin_id").cast("long").alias("bin_id"),
        (start_tok - F.col("off")).cast("long").alias("frag_start"),
        (end_tok - start_tok).cast("long").alias("frag_len"),
        (start_tok - F.col("bin_id") * _PACK_BIN_TOKENS).cast("long").alias("bin_offset"),
    )


_PACKING_SPLIT_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM t
), f AS (
  SELECT doc_id, n_tokens, off, b.bin_id
  FROM o, unnest(range(off // {_PACK_BIN_TOKENS},
                       (off + n_tokens - 1) // {_PACK_BIN_TOKENS} + 1)) AS b(bin_id)
)
SELECT doc_id,
       CAST(bin_id AS BIGINT) AS bin_id,
       CAST(GREATEST(bin_id * {_PACK_BIN_TOKENS}, off) - off AS BIGINT) AS frag_start,
       CAST(LEAST((bin_id + 1) * {_PACK_BIN_TOKENS}, off + n_tokens)
            - GREATEST(bin_id * {_PACK_BIN_TOKENS}, off) AS BIGINT) AS frag_len,
       CAST(GREATEST(bin_id * {_PACK_BIN_TOKENS}, off)
            - bin_id * {_PACK_BIN_TOKENS} AS BIGINT) AS bin_offset
FROM f
"""


# --- stratified (per-language) deterministic sampling -------------------------------------

# keep-rate in sixteenths by language: the high-resource languages are
# downsampled, the default keeps everything — the standard corpus
# rebalancing knob, reproducible across engines (hash class, no rand())
_STRATA_SIXTEENTHS = {"en": 16, "de": 8, "es": 4, "fr": 2, "zh": 1}
_STRATA_DEFAULT = 16


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sampling: doc kept iff the first
    md5(doc_id) hex digit falls below its language's keep-rate (k/16).
    Pure filter — no shuffle at all; the summary rollup is one groupBy."""
    docs = _docs(spark, sf_dir)
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(k))
            for lang, k in sorted(_STRATA_SIXTEENTHS.items())
        ],
        F.lit(_STRATA_DEFAULT),
    )
    hex_class = F.instr(
        F.lit(_HEXS), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    )
    kept = docs.where(hex_class <= rate)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


def _stratified_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {k}" for lang, k in sorted(_STRATA_SIXTEENTHS.items())
    )
    return f"""
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       MIN(doc_id) AS min_doc_id
FROM documents
WHERE instr('{_HEXS}', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
      <= CASE lang {whens} ELSE {_STRATA_DEFAULT} END
GROUP BY lang
"""


# --- bigram-LM perplexity quality filter (CCNet-style) ------------------------------------

# unseen-bigram penalty in bits: a fixed cap standing in for backoff
# smoothing — integer-exact and cross-engine identical, unlike any
# float Kneser-Ney.  20 bits ~= P = 1e-6, well above any seen bigram's
# cost at the test SFs.
_LM_UNSEEN_BITS = 20
# held-in reference slice the bigram counts are trained on (CCNet trains
# its LM on a clean reference corpus; the doc_id slice is the oracle-able
# stand-in, like gram_decontamination's split)
_LM_TRAIN_MOD = 1
# fluency gate: average bits/bigram <= 5 (integer cross-multiplication,
# no division) — the CCNet-style "head" split: docs whose bigrams track
# the reference slice's distribution pass, surprising ones fail (the
# test corpora's per-doc averages span ~3.8-7.4 bits, so the gate
# genuinely discriminates rather than rubber-stamping)
_LM_FLUENT_MILLE_MAX = 5000


def lm_perplexity(docs: DataFrame) -> DataFrame:
    """Per-doc bigram-LM negative-log-likelihood — the CCNet-style
    quality filter: score every document by how surprising its word
    bigrams are under counts trained on a held-in reference slice
    (doc_id % 10 == _LM_TRAIN_MOD), flag the fluent ones.

    Integer-exact cross-engine recipe: -log2 P(b|a) is approximated by
    floor(log2(c_ctx / c_pair)) = LENGTH(bin(c_ctx // c_pair)) - 1 (the
    tfidf_keywords trick — no float log anywhere), unseen bigrams pay a
    flat _LM_UNSEEN_BITS, and the per-doc average is an integer
    mille-bits with a cross-multiplied threshold.

    Scale shape: train counts are two map-side-combinable aggregates
    over the (tiny) reference slice's bigram explode; scoring is ONE
    corpus bigram explode joined to the two vocab-sized count tables
    (dimension-style equi-joins — one build row per key, no fan-out)
    and re-aggregated per doc.  The context counts derive from the pair
    counts (sum over b), so the train slice is exploded exactly once."""
    pair_c = (
        _bigram_rows(docs.where(F.col("doc_id") % 10 == _LM_TRAIN_MOD))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pair_c.count()  # eager fill: context derivation + scoring join
    ctx_c = pair_c.groupBy("a").agg(F.sum("c_pair").alias("c_ctx"))
    return lm_score(docs, pair_c, ctx_c)


def _bigram_rows(d: DataFrame) -> DataFrame:
    """(doc_id, a, b): every adjacent word bigram, training-convention
    tokenization (lower + trim + whitespace split, empties dropped)."""
    from .bpe import _adjacent_pairs

    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: w != "",
        ).alias("t"),
    )
    return toks.select(
        "doc_id", F.explode(_adjacent_pairs(F.col("t"))).alias("p")
    ).select("doc_id", "p.a", "p.b")


def lm_train_counts(ref_docs: DataFrame) -> DataFrame:
    """One denormalized LM count table (a, b, c_pair, c_ctx) from a
    reference corpus — the static side a stream-static scorer joins per
    micro-batch (streaming/perplexity_stream.py), or any caller with a
    REAL clean reference corpus rather than the registered query\'s
    doc_id-slice stand-in."""
    pair_c = (
        _bigram_rows(ref_docs)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_pair"))
    )
    ctx_c = pair_c.groupBy("a").agg(F.sum("c_pair").alias("c_ctx"))
    return pair_c.join(ctx_c, "a")


def lm_score(
    docs: DataFrame, pair_c: DataFrame, ctx_c: DataFrame | None = None
) -> DataFrame:
    """(doc_id, n_bigrams, total_bits, mille_bits, is_fluent): the
    integer bits formula over arbitrary count tables — shared by the
    batch query and the streaming scorer.  With ``ctx_c=None``,
    ``pair_c`` must be the denormalized (a, b, c_pair, c_ctx) table
    (lm_train_counts) and scoring is a SINGLE dimension join per batch:
    c_ctx is only consumed when the pair matched, so it can ride the
    pair row — a separate join on ``a`` against the denormalized table
    would multiply rows (one per b)."""
    bits = F.when(
        F.col("c_pair").isNull(), F.lit(_LM_UNSEEN_BITS)
    ).otherwise(
        F.length(F.bin((F.col("c_ctx") / F.col("c_pair")).cast("long"))) - 1
    )
    if ctx_c is None:
        joined = _bigram_rows(docs).join(
            pair_c.select("a", "b", "c_pair", "c_ctx"), ["a", "b"], "left"
        )
    else:
        joined = (
            _bigram_rows(docs)
            .join(pair_c.select("a", "b", "c_pair"), ["a", "b"], "left")
            .join(ctx_c.select("a", "c_ctx"), ["a"], "left")
        )
    per_doc = (
        joined
        .select("doc_id", bits.alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bits").alias("total_bits"),
        )
    )
    n = F.col("n_bigrams")
    total = F.col("total_bits")
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(n, F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(total, F.lit(0)).cast("long").alias("total_bits"),
        F.coalesce(F.floor(total * 1000 / n), F.lit(0))
        .cast("long")
        .alias("mille_bits"),
        F.coalesce(total * 1000 <= F.lit(_LM_FLUENT_MILLE_MAX) * n, F.lit(False))
        .alias("is_fluent"),
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_perplexity(_docs(spark, sf_dir))


# CTE chain factored out (like _GOPHER_CTES) so the NB quality
# classifier's oracle can derive its fluency labels from the same SQL.
_LM_CTES = f"""toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                     x -> x != '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, t[i + 1] AS a, t[i + 2] AS b
  FROM toks, unnest(range(0, len(t) - 1)) AS r(i)
), pc AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_pair
  FROM bg WHERE doc_id % 10 = {_LM_TRAIN_MOD} GROUP BY a, b
), cc AS (
  SELECT a, CAST(SUM(c_pair) AS BIGINT) AS c_ctx FROM pc GROUP BY a
), scored AS (
  SELECT bg.doc_id,
         CASE WHEN pc.c_pair IS NULL THEN {_LM_UNSEEN_BITS}
              ELSE LENGTH(bin(cc.c_ctx // pc.c_pair)) - 1 END AS bits
  FROM bg LEFT JOIN pc USING (a, b) LEFT JOIN cc USING (a)
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(bits) AS total_bits
  FROM scored GROUP BY doc_id
)"""

_LM_SQL = f"""
WITH {_LM_CTES}
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.total_bits, 0) AS BIGINT) AS total_bits,
       CAST(COALESCE(p.total_bits * 1000 // p.n_bigrams, 0) AS BIGINT)
         AS mille_bits,
       COALESCE(p.total_bits * 1000 <= {_LM_FLUENT_MILLE_MAX} * p.n_bigrams,
                FALSE) AS is_fluent
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# --- CCNet perplexity buckets (head / middle / tail) ---------------------------------------
#
# CCNet's actual corpus split: rank documents by LM perplexity and cut
# the corpus into terciles — head (most reference-like) feeds training
# directly, middle gets reconsidered, tail is dropped or down-weighted.
# The tercile thresholds are corpus-wide order statistics, computed here
# the length_quantiles way: a VALUE-DOMAIN histogram, not a global sort.
# mille_bits lives in [0, _LM_UNSEEN_BITS * 1000] (the unseen penalty is
# the per-bigram maximum), so the histogram / cumsum window input is a
# CONSTANT <= 20001 rows at any corpus size.  Docs sharing a score share
# a bucket; a value straddling a boundary spills to the later bucket
# (deterministic, mirrored in the oracle).


def ccnet_ppl_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, mille_bits, ppl_bucket): tercile label per document
    under the lm_perplexity score — 0 = head, 1 = middle, 2 = tail."""
    scores = lm_perplexity(docs).select("doc_id", "mille_bits")
    # the LM scoring subtree (bigram explode + two dimension joins)
    # dominates the schedule and feeds three consumers below — the
    # bands-cache case, so persist WITH an eager fill
    from pyspark.sql import Window

    scores = scores.persist(StorageLevel.MEMORY_AND_DISK)
    scores.count()
    hist = scores.groupBy("mille_bits").agg(F.count(F.lit(1)).alias("c"))
    # bounded global window: <= _LM_UNSEEN_BITS*1000 + 1 distinct values
    wv = Window.orderBy("mille_bits").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("cum", F.sum("c").over(wv))
    n_tot = scores.agg(F.count(F.lit(1)).alias("n"))
    bucket = (
        F.when(F.col("cum") * 3 <= F.col("n"), 0)
        .when(F.col("cum") * 3 <= F.col("n") * 2, 1)
        .otherwise(2)
        .cast("long")
    )
    vmap = cum.crossJoin(F.broadcast(n_tot)).select(
        "mille_bits", bucket.alias("ppl_bucket")
    )
    return scores.join(F.broadcast(vmap), "mille_bits").select(
        "doc_id", "mille_bits", "ppl_bucket"
    )


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ccnet_ppl_buckets(_docs(spark, sf_dir))


_CCNET_BUCKETS_SQL = f"""
WITH {_LM_CTES}, sc AS (
  SELECT d.doc_id,
         CAST(COALESCE(p.total_bits * 1000 // p.n_bigrams, 0) AS BIGINT)
           AS mille_bits
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
), hist AS (
  SELECT mille_bits, CAST(COUNT(*) AS BIGINT) AS c FROM sc GROUP BY mille_bits
), cum AS (
  SELECT mille_bits,
         CAST(SUM(c) OVER (ORDER BY mille_bits) AS BIGINT) AS cum
  FROM hist
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc
), vmap AS (
  SELECT mille_bits,
         CAST(CASE WHEN cum * 3 <= n THEN 0
                   WHEN cum * 3 <= n * 2 THEN 1
                   ELSE 2 END AS BIGINT) AS ppl_bucket
  FROM cum, n
)
SELECT sc.doc_id, sc.mille_bits, vmap.ppl_bucket
FROM sc JOIN vmap USING (mille_bits)
"""


# --- full Gopher n-gram repetition table --------------------------------------------------

# Rae et al. 2021, Appendix A1.1, the remaining repetition filters:
# for n in 2..4 the fraction of characters in the most frequent n-gram
# (as max over grams of count * gram_chars — deterministic under count
# ties, equal to Gopher's definition whenever the top gram is unique);
# for n in 5..10 the fraction of characters covered by ANY duplicated
# n-gram, overlapping positions counted ONCE (position-set union).
# Character basis: non-whitespace chars (token concatenation length).
_NGRAM_TOP_NS = (2, 3, 4)
_NGRAM_DUP_NS = (5, 6, 7, 8, 9, 10)
_NGRAM_TOP_MAX = {2: 200, 3: 180, 4: 160}  # permille thresholds
_NGRAM_DUP_MAX = {5: 150, 6: 140, 7: 130, 8: 120, 9: 110, 10: 100}


def ngram_repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-doc Gopher n-gram repetition fractions + composite verdict.

    Scale shape: ONE token split per doc; grams for all nine n values
    ride two chained Generates over cheap arrays (first the 9-element
    literal n array, then the index sequence — the block_occurrences
    linear shape: the token array crosses both Generates as a bound
    attribute inside one codegen stage and is dropped before the only
    wide shuffle, the (doc_id, n, gram) count agg).  Duplicate-coverage
    de-overlap is an exact position-set union: dup occurrences explode
    to covered positions, distinct, then join the per-position token
    lengths — every join/agg keyed by doc_id(+n/pos), co-partitioned,
    per-doc bounded.  All fractions are floored permille integers so
    the DuckDB oracle hash-matches."""
    pre = docs.select(
        "doc_id",
        F.length(F.regexp_replace("text", r"\s+", ""))
        .cast("long")
        .alias("nonws"),
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: w != "",
        ).alias("t"),
    )
    all_ns = list(_NGRAM_TOP_NS + _NGRAM_DUP_NS)
    exn = pre.select("doc_id", "t", F.explode(F.lit(all_ns)).alias("n"))
    idx = F.when(
        F.size("t") >= F.col("n"),
        F.sequence(F.lit(0), F.size("t") - F.col("n")),
    ).otherwise(F.array().cast("array<int>"))
    exi = exn.select("doc_id", "t", "n", idx.alias("ix")).select(
        "doc_id", "t", "n", F.explode("ix").alias("i")
    )
    gkey = F.concat_ws(
        "\x01", F.slice(F.col("t"), F.col("i") + 1, F.col("n"))
    )
    occ = exi.select("doc_id", "n", "i", gkey.alias("g"))

    # NOTE (round 6, measured): `pre` feeds three subtrees and `cnt` two,
    # so the token split and gram count agg DO recompute across branches
    # — but persist+eager-fill on pre/cnt measured NET WORSE here
    # (2.6-4.2 s -> 3.5-4.5 s same-window A/B at sf0.1): the two
    # serialized fill passes cost more than the recompute they save.
    # Left un-persisted deliberately (the bm25-tf lesson).
    cnt = occ.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    gram_chars = F.length("g") - (F.col("n") - 1)  # 1-char separators
    tops = (
        cnt.where(F.col("n").isin(*_NGRAM_TOP_NS))
        .groupBy("doc_id", "n")
        .agg(F.max(F.col("c") * gram_chars).cast("long").alias("v"))
    )

    dup_keys = cnt.where(
        F.col("n").isin(*_NGRAM_DUP_NS) & (F.col("c") >= 2)
    ).select("doc_id", "n", "g")
    dup_occ = occ.join(dup_keys, ["doc_id", "n", "g"], "left_semi")
    pos = dup_occ.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.col("i"), F.col("i") + F.col("n") - 1)
        ).alias("p"),
    ).distinct()
    toklen = pre.select(
        "doc_id", F.posexplode("t").alias("p", "w")
    ).select("doc_id", "p", F.length("w").alias("wl"))
    dups = (
        pos.join(toklen, ["doc_id", "p"])
        .groupBy("doc_id", "n")
        .agg(F.sum("wl").cast("long").alias("v"))
    )

    metrics = tops.unionByName(dups)
    names = [f"top{n}" for n in _NGRAM_TOP_NS] + [
        f"dup{n}" for n in _NGRAM_DUP_NS
    ]
    wide = metrics.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("n") == n, F.col("v"))), F.lit(0)
            )
            .cast("long")
            .alias(f"{name}_chars")
            for name, n in zip(names, all_ns)
        ]
    )
    base = pre.select("doc_id", "nonws").join(wide, "doc_id", "left")
    permille = lambda c: (  # noqa: E731
        F.when(F.col("nonws") == 0, F.lit(0))
        .otherwise(F.floor(F.coalesce(c, F.lit(0)) * 1000 / F.col("nonws")))
        .cast("long")
    )
    sig = base.select(
        "doc_id",
        *[
            permille(F.col(f"{name}_chars")).alias(f"{name}_gram_char_permille")
            for name in names
        ],
    )
    bad = None
    for n in _NGRAM_TOP_NS:
        cond = F.col(f"top{n}_gram_char_permille") > _NGRAM_TOP_MAX[n]
        bad = cond if bad is None else (bad | cond)
    for n in _NGRAM_DUP_NS:
        bad = bad | (F.col(f"dup{n}_gram_char_permille") > _NGRAM_DUP_MAX[n])
    return sig.select(
        "*", bad.cast("int").cast("long").alias("is_ngram_repetitive")
    )


def q_ngram_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_repetition_stats(_docs(spark, sf_dir))


def _ngram_repetition_sql() -> str:
    all_ns = list(_NGRAM_TOP_NS + _NGRAM_DUP_NS)
    names = [f"top{n}" for n in _NGRAM_TOP_NS] + [
        f"dup{n}" for n in _NGRAM_DUP_NS
    ]
    wide_cols = ",\n         ".join(
        f"CAST(COALESCE(SUM(CASE WHEN n = {n} THEN v END), 0) AS BIGINT)"
        f" AS {name}_chars"
        for name, n in zip(names, all_ns)
    )
    sig_cols = ",\n       ".join(
        f"CASE WHEN b.nonws = 0 THEN 0 ELSE CAST(FLOOR("
        f"COALESCE(w.{name}_chars, 0) * 1000.0 / b.nonws) AS BIGINT) END"
        f" AS {name}_gram_char_permille"
        for name in names
    )
    verdict = " OR ".join(
        [
            f"top{n}_gram_char_permille > {_NGRAM_TOP_MAX[n]}"
            for n in _NGRAM_TOP_NS
        ]
        + [
            f"dup{n}_gram_char_permille > {_NGRAM_DUP_MAX[n]}"
            for n in _NGRAM_DUP_NS
        ]
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS nonws,
         list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                     x -> x != '') AS t
  FROM documents
), occ AS (
  SELECT doc_id, n, i,
         array_to_string(t[CAST(i + 1 AS BIGINT):CAST(i + n AS BIGINT)],
                         chr(1)) AS g
  FROM toks,
       unnest([{", ".join(str(n) for n in all_ns)}]) AS nn(n),
       unnest(range(0, len(t) - n + 1)) AS r(i)
), cnt AS (
  SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
  FROM occ GROUP BY doc_id, n, g
), tops AS (
  SELECT doc_id, n,
         CAST(MAX(c * (length(g) - (n - 1))) AS BIGINT) AS v
  FROM cnt WHERE n IN ({", ".join(str(n) for n in _NGRAM_TOP_NS)})
  GROUP BY doc_id, n
), dupk AS (
  SELECT doc_id, n, g FROM cnt
  WHERE c >= 2 AND n IN ({", ".join(str(n) for n in _NGRAM_DUP_NS)})
), pos AS (
  SELECT DISTINCT o.doc_id, o.n, p
  FROM occ o JOIN dupk USING (doc_id, n, g),
       unnest(range(o.i, o.i + o.n)) AS rr(p)
), toklen AS (
  SELECT doc_id, p, CAST(length(t[CAST(p + 1 AS BIGINT)]) AS BIGINT) AS wl
  FROM toks, unnest(range(0, len(t))) AS rr(p)
), dups AS (
  SELECT pos.doc_id, pos.n, CAST(SUM(wl) AS BIGINT) AS v
  FROM pos JOIN toklen USING (doc_id, p)
  GROUP BY pos.doc_id, pos.n
), metrics AS (
  SELECT * FROM tops UNION ALL SELECT * FROM dups
), wide AS (
  SELECT doc_id,
         {wide_cols}
  FROM metrics GROUP BY doc_id
), sig AS (
  SELECT b.doc_id,
       {sig_cols}
  FROM toks b LEFT JOIN wide w USING (doc_id)
)
SELECT *,
       CAST(CASE WHEN {verdict} THEN 1 ELSE 0 END AS BIGINT)
         AS is_ngram_repetitive
FROM sig
"""


# --- C4-style line-level cleaning ---------------------------------------------------------

# Raffel et al. 2020 (C4), section 2.2 heuristics, line/page proxy form:
#   keep a line iff it ends in terminal punctuation (. ! ? "), has
#   >= _C4_MIN_LINE_WORDS words, and does not mention javascript;
#   drop the whole page iff fewer than _C4_MIN_KEPT_LINES lines
#   survive (the standard kept-lines proxy for C4's sentence count),
#   or the page contains "lorem ipsum" or a curly brace.
# The naughty-wordlist page filter is NOT included (it requires the
# external blocklist asset); redact_pii covers the privacy-adjacent
# concern this corpus can express.
_C4_MIN_LINE_WORDS = 3
_C4_MIN_KEPT_LINES = 5


def c4_line_clean(docs: DataFrame) -> DataFrame:
    """(doc_id, n_lines, n_kept, is_dropped, text_clean): C4 cleaning
    as a payload rewrite — surviving pages' text is the kept lines
    re-joined with newlines; dropped pages keep their stats but get an
    empty text_clean so the frame stays one-row-per-doc.

    Scale shape: a single JVM projection per row (split + two linear
    HOF passes), zero shuffles, zero joins — the trimmed line array is
    materialized in its own projection with two downstream references
    so CollapseProject cannot re-inline the split into the filter
    lambdas (the known HOF hazard)."""
    keep = (
        lambda l: l.rlike('[.!?"]$')
        & (F.size(F.split(l, r"\s+")) >= _C4_MIN_LINE_WORDS)
        & ~F.lower(l).contains("javascript")
    )
    lines = docs.select(
        "doc_id",
        F.col("text"),
        F.filter(
            F.transform(F.split(F.col("text"), "\n"), lambda l: F.trim(l)),
            lambda l: l != "",
        ).alias("ls"),
    )
    cleaned = lines.select(
        "doc_id",
        F.col("text"),
        F.size("ls").cast("long").alias("n_lines"),
        F.filter(F.col("ls"), keep).alias("kept"),
    )
    page_bad = (
        (F.size("kept") < _C4_MIN_KEPT_LINES)
        | F.lower(F.col("text")).contains("lorem ipsum")
        | F.col("text").contains("{")
    )
    return cleaned.select(
        "doc_id",
        "n_lines",
        F.size("kept").cast("long").alias("n_kept"),
        page_bad.alias("is_dropped"),
        F.when(page_bad, F.lit("")).otherwise(
            F.concat_ws("\n", F.col("kept"))
        ).alias("text_clean"),
    )


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_line_clean(_docs(spark, sf_dir))


_C4_SQL = f"""
WITH lines AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)), l -> TRIM(l)),
                     l -> l != '') AS ls
  FROM documents
), cleaned AS (
  SELECT doc_id, text,
         CAST(len(ls) AS BIGINT) AS n_lines,
         list_filter(ls, l -> regexp_matches(l, '[.!?"]$')
                          AND len(regexp_split_to_array(l, '\\s+'))
                              >= {_C4_MIN_LINE_WORDS}
                          AND NOT contains(lower(l), 'javascript')) AS kept
  FROM lines
)
SELECT doc_id, n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       (len(kept) < {_C4_MIN_KEPT_LINES}
        OR contains(lower(text), 'lorem ipsum')
        OR contains(text, '{{')) AS is_dropped,
       CASE WHEN len(kept) < {_C4_MIN_KEPT_LINES}
              OR contains(lower(text), 'lorem ipsum')
              OR contains(text, '{{')
            THEN '' ELSE COALESCE(array_to_string(kept, chr(10)), '')
       END AS text_clean
FROM cleaned
"""


# --- DSIR hashed n-gram importance weights ------------------------------------------------

# Xie et al. 2023 ("Data Selection for Language Models via Importance
# Resampling"): score every raw doc by how much its hashed n-gram
# feature distribution resembles a target domain vs the raw pool, then
# keep the target-like docs.  Here the target is the doc_id % 10 ==
# _DSIR_TARGET_MOD slice (the oracle-able stand-in for a curated
# target corpus, same convention as lm_perplexity's train slice).
_DSIR_BUCKETS = 4096  # 65536 md5-prefix values fold uniformly (16x) onto 4096
_DSIR_TARGET_MOD = 1


def _dsir_gram_rows(d: DataFrame) -> DataFrame:
    """(doc_id, bucket): every unigram + word-bigram hashed into
    _DSIR_BUCKETS buckets via the md5 4-hex-prefix recipe.  One explode
    per doc; the bigram strings ride the same token array."""
    from .bpe import _adjacent_pairs

    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda w: w != "",
        ).alias("t"),
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("t"),
                F.transform(
                    _adjacent_pairs(F.col("t")),
                    lambda p: F.concat_ws(" ", p["a"], p["b"]),
                ),
            )
        ).alias("g"),
    )
    return grams.select(
        "doc_id",
        (_md5_prefix_val(F.col("g")) % _DSIR_BUCKETS).alias("bucket"),
    )


def dsir_importance(docs: DataFrame) -> DataFrame:
    """Per-doc DSIR importance weight + selection flag.

    Integer-exact cross-engine recipe: log2 of the add-one-smoothed
    probability ratio p_target/p_raw decomposes into two floor-log2
    terms, each computed exactly via a 1024-scaled integer quotient
    (blen(x) = LENGTH(bin(x)) - 1 = floor(log2 x), so
    blen((a * 1024) // b) - 10 = floor(log2(a / b)) for a >= b/1024):

        bits = floor(log2((c_t+1) / (c_q+1))) + floor(log2((N_q+B) / (N_t+B)))

    Since c_t <= c_q and N_t <= N_q by construction (the target slice
    is part of the raw pool), both quotients' scaled numerators stay
    in range and nothing overflows BIGINT at any corpus scale.  A
    doc's weight is the sum of its grams' bits; floor quantization
    costs up to 1 bit per gram uniformly, so selection is calibrated
    against the corpus rather than zero: is_selected = weight strictly
    above the MEAN weight of scored docs (integer cross-multiplication
    w * n_scored > sum_w — the deterministic, oracle-able stand-in for
    DSIR's top-k resample).

    Scale shape: ONE map-side-combinable groupBy(bucket) builds both
    count columns in a single corpus pass (target counts are a
    conditional sum — no second scan); the B-row score table persists
    tiny and broadcasts into the scoring join; per-doc weights are one
    more map-side-combinable agg, and the mean threshold is a 1-row
    aggregate broadcast back.  The gram explode is recomputed for the
    scoring pass rather than persisted — at 100 TB the re-scan is
    cheaper than materializing the exploded grams (lm_perplexity's
    trade, measured there)."""
    g = _dsir_gram_rows(docs)
    is_t = (F.col("doc_id") % 10 == _DSIR_TARGET_MOD).cast("long")
    bc = g.groupBy("bucket").agg(
        F.sum(is_t).alias("c_t"),
        F.count(F.lit(1)).alias("c_q"),
    )
    tot = bc.agg(
        F.sum("c_t").alias("n_t"), F.sum("c_q").alias("n_q")
    )

    # floor(log2(a/b)) = LENGTH(bin((a*1024) DIV b)) - 11, exact while
    # a*1024 >= b (guaranteed: a >= b/1024 in both uses — c_t <= c_q and
    # n_t <= n_q since the target slice is part of the raw pool, so the
    # ratio sits in [1/ratio_max, 1] x [1, ...]); integer DIV keeps the
    # quotient exact at any count (Spark DIV == DuckDB //, the repo's
    # verified recipe — a float divide would drift past 2^53).  A bucket
    # whose raw mass exceeds its target mass 1024-fold quotients to 0 ->
    # bin(0) -> a flat -10 term: a deterministic per-gram penalty clamp
    # (the _LM_UNSEEN_BITS idea), identical in both engines
    B = _DSIR_BUCKETS
    score = (
        bc.crossJoin(F.broadcast(tot))
        .selectExpr(
            "bucket",
            "CAST((LENGTH(BIN(((c_t + 1) * 1024) DIV (c_q + 1))) - 11)"
            f" + (LENGTH(BIN(((n_q + {B}) * 1024) DIV (n_t + {B}))) - 11)"
            " AS BIGINT) AS bits",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    score.count()  # eager fill: <= B rows, feeds the broadcast scoring join
    per_doc = g.join(F.broadcast(score), "bucket").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("bits").alias("weight_bits"),
    )
    thresh = per_doc.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum("weight_bits").alias("sum_w"),
    )
    w = F.col("weight_bits")
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(thresh))
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(w, F.lit(0)).cast("long").alias("weight_bits"),
            F.coalesce(
                w * F.col("n_scored") > F.col("sum_w"), F.lit(False)
            ).alias("is_selected"),
        )
    )


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_importance(_docs(spark, sf_dir))


_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                     x -> x != '') AS t
  FROM documents
), gr AS (
  SELECT doc_id, UNNEST(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS g
  FROM toks, unnest(range(0, len(t) - 1)) AS r(i)
), grams AS (
  SELECT doc_id, {_md5_prefix_sql("md5(g)")} % {_DSIR_BUCKETS} AS bucket
  FROM gr
), bc AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN doc_id % 10 = {_DSIR_TARGET_MOD}
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
         CAST(COUNT(*) AS BIGINT) AS c_q
  FROM grams GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
         CAST(SUM(c_q) AS BIGINT) AS n_q
  FROM bc
), score AS (
  SELECT bucket,
         CAST((LENGTH(bin(((c_t + 1) * 1024) // (c_q + 1))) - 11)
            + (LENGTH(bin(((n_q + {_DSIR_BUCKETS}) * 1024)
                          // (n_t + {_DSIR_BUCKETS}))) - 11)
              AS BIGINT) AS bits
  FROM bc, tot
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(bits) AS BIGINT) AS weight_bits
  FROM grams JOIN score USING (bucket) GROUP BY doc_id
), thresh AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(weight_bits) AS BIGINT) AS sum_w
  FROM per_doc
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.weight_bits, 0) AS BIGINT) AS weight_bits,
       COALESCE(p.weight_bits * t.n_scored > t.sum_w, FALSE) AS is_selected
FROM documents d LEFT JOIN per_doc p USING (doc_id), thresh t
"""


# --- Naive-Bayes quality classifier (distilled from Gopher labels) ------------------------

# Model-based quality filtering — the fourth standard corpus-quality
# family next to heuristics (gopher_quality_signals), LM perplexity
# (lm_perplexity) and importance weighting (dsir_importance): GPT-3
# (Brown et al. 2020, App. A) and LLaMA both gate web text with a cheap
# linear classifier trained on a labeled reference set.  Here the
# labels are DISTILLED from the (expensive, many-signal) Gopher
# heuristic on a held-in slice — the standard production pattern: run
# the costly signal once on a sample, train a cheap model, score the
# whole corpus with one broadcast join.
#
# The generic documents table is uniformly clean filler prose (zero
# gopher-bad docs at every SF — measured), which would make any
# distilled label degenerate, so quality variation is synthesized
# IN-QUERY (the driver_queries_core._VARIANTS pattern): every
# doc_id % _NB_SPAM_MOD == _NB_SPAM_RES doc gains a symbol-spam
# suffix proportional to its length, evaluated identically in Spark
# and DuckDB.  The spam trips the Gopher symbol filter at any doc size
# (sym ~= 4 spam-chars per spam token -> symbol_word_permille ~900
# >> the 100 gate), so labels are non-degenerate and the classifier's
# held-out discrimination is real and testable.
_NB_TRAIN_MOD = 2  # labeled slice doc_id % 10 == 2 (LM/DSIR use slice 1)
_NB_SPAM_MOD = 4  # 1 in 4 docs degraded (corpus-wide ~75/25 clean/spam)
# residue 2, NOT 3: the train slice doc_id % 10 == 2 is all-even, so an
# odd spam residue would intersect it NOWHERE (zero negative training
# examples — measured, the degenerate first cut); residue 2 meets the
# slice at doc_id % 20 == 2, i.e. a 50/50 label split inside the slice
_NB_SPAM_RES = 2
_NB_SPAM = " ###..."  # 4 symbol chars per token under the Gopher counter


def _nb_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text): the synthesized evaluation corpus — documents
    with every doc_id % _NB_SPAM_MOD == _NB_SPAM_RES doc degraded
    by n_chars DIV 20 spam tokens (length-proportional, so the spam
    mass dominates regardless of doc size; DIV/// truncation is the
    verified cross-engine recipe)."""
    spam = F.expr(f"repeat('{_NB_SPAM}', CAST(n_chars DIV 20 AS INT))")
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % _NB_SPAM_MOD == _NB_SPAM_RES,
            F.concat(F.col("text"), spam),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def nb_quality_classifier(docs: DataFrame) -> DataFrame:
    """Per-doc Naive-Bayes quality log-likelihood-ratio + verdict over
    the synthesized corpus (_nb_docs).

    Training: the doc_id % 10 == _NB_TRAIN_MOD slice is labeled by the
    Gopher composite verdict (pos = not gopher-bad — the classifier
    never sees doc_id, only hashed text features).  The math and scale
    shape live in nb_classifier_verdicts (shared with the curate job's
    --nb-quality stage)."""
    return self_trained_nb_verdicts(_nb_docs(docs))


def gopher_labels(train: DataFrame) -> DataFrame:
    """(doc_id, is_pos): the classifier's training labels, distilled
    from the Gopher composite verdict (pos = not gopher-bad)."""
    return gopher_quality_signals(train).select(
        "doc_id",
        (F.col("is_gopher_bad") == 0).cast("long").alias("is_pos"),
    )


def self_trained_nb_verdicts(docs: DataFrame) -> DataFrame:
    """nb_classifier_verdicts of every (doc_id, text) row of ``docs`` by
    a classifier trained on their own Gopher-labelled doc_id % 10 ==
    _NB_TRAIN_MOD slice — the curate --nb-quality / --quality-sample
    and profile_corpus ``nb`` construction."""
    train = docs.where(F.col("doc_id") % 10 == _NB_TRAIN_MOD)
    return nb_classifier_verdicts(docs, train, gopher_labels(train))


def nb_classifier_verdicts(
    docs: DataFrame, train: DataFrame, lab: DataFrame
) -> DataFrame:
    """Train a hashed-feature Naive-Bayes classifier on ``train``
    (doc_id, text) with labels ``lab`` (doc_id, is_pos in {0, 1}) and
    score every (doc_id, text) row of ``docs``; returns (doc_id,
    n_grams, llr_bits, mille_llr, is_quality).

    Features are the DSIR hashed unigram+bigram buckets
    (_dsir_gram_rows — one shared tokenization contract).  Per bucket b
    and class c the multinomial NB term -log2 P(b|c) with add-one
    smoothing is the integer-exact floor-log2 recipe
    (blen((S_c + B) * 1024 DIV (c_c + 1)) - 10); a gram's llr is the
    neg-cost minus pos-cost, so both floors point the same way and the
    quantization bias largely cancels in the difference.  Unseen
    buckets (in neither class) degenerate to the class-size constant,
    folded in via COALESCE.  Verdict: llr_bits above a decision
    threshold CALIBRATED ON THE TRAIN SLICE (midpoint of the
    class-mean scores — see the inline comment; plain equal-prior
    llr > 0 measured sign-fragile across SFs).  One-class label sets
    degrade gracefully: threshold falls back to 0 and verdicts skew
    all-positive (documented in the curate CLI).

    Scale shape: label pass + count pass run over the (tiny) train
    slice only; the <= B-row score table persists and broadcasts into
    the scoring join; scoring is ONE corpus gram explode -> broadcast
    equi-join -> map-side-combinable per-doc agg.  The gram explode is
    recomputed rather than persisted (the DSIR/lm trade: re-scan beats
    materializing the exploded corpus at 100 TB)."""
    return nb_score(docs, nb_model(train, lab))


def nb_model(train: DataFrame, lab: DataFrame) -> DataFrame:
    """(bucket, bits, thr2): the trained classifier as ONE complete,
    serializable static table — every bucket 0..B-1 materialized with
    its llr bits (unseen buckets folded to the class-size constant) and
    the train-calibrated decision threshold carried on every row.
    Written to parquet this is the model artifact a stream-static
    scorer joins per micro-batch (streaming/nb_quality_stream.py); the
    batch verdicts function composes it with nb_score directly."""
    B = _DSIR_BUCKETS
    bc = (
        _dsir_gram_rows(train)
        .join(lab, "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum("is_pos").alias("c_pos"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("c_neg"),
        )
    )
    tot = bc.agg(
        F.sum("c_pos").alias("s_pos"), F.sum("c_neg").alias("s_neg")
    )
    score = (
        bc.crossJoin(F.broadcast(tot))
        .selectExpr(
            "bucket",
            f"CAST((LENGTH(BIN(((s_neg + {B}) * 1024) DIV (c_neg + 1))) - 11)"
            f" - (LENGTH(BIN(((s_pos + {B}) * 1024) DIV (c_pos + 1))) - 11)"
            " AS BIGINT) AS bits",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    score.count()  # eager fill: <= B rows, feeds the broadcast scoring join
    un = tot.selectExpr(
        f"CAST((LENGTH(BIN((s_neg + {B}) * 1024)) - 11)"
        f" - (LENGTH(BIN((s_pos + {B}) * 1024)) - 11) AS BIGINT)"
        " AS unseen_bits"
    )
    def _llr_per_doc(d: DataFrame) -> DataFrame:
        return (
            _dsir_gram_rows(d)
            .join(F.broadcast(score), "bucket", "left")
            .crossJoin(F.broadcast(un))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(
                    F.coalesce(F.col("bits"), F.col("unseen_bits"))
                ).alias("llr_bits"),
            )
        )

    # Trained decision threshold: the equal-prior llr > 0 rule is
    # sign-fragile (the per-gram floor bias shifts with corpus stats —
    # measured: correct at sf0.001/sf0.1, inverted at sf0.01), so the
    # threshold is CALIBRATED ON THE TRAIN SLICE as the midpoint of the
    # two class means: is_quality = 2*llr > mean_pos + mean_neg.  Means
    # use truncating DIV (<= 1 bit shift, negligible vs the cluster
    # gap) instead of exact cross-multiplication, whose n_pos*n_neg*llr
    # products overflow BIGINT at real corpus scale.  Empty-class
    # fallback: threshold 0 (the equal-prior rule).  This re-explodes
    # the train slice's grams (~10 % extra scoring work) instead of
    # persisting the corpus-sized per-doc frame for a second consumer.
    thr = (
        _llr_per_doc(train)
        .join(lab, "doc_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("is_pos") == 1, F.col("llr_bits"))),
                F.lit(0),
            ).alias("sp"),
            F.sum(F.col("is_pos")).alias("np"),
            F.coalesce(
                F.sum(F.when(F.col("is_pos") == 0, F.col("llr_bits"))),
                F.lit(0),
            ).alias("sn"),
            F.sum(F.lit(1) - F.col("is_pos")).alias("nn"),
        )
        .selectExpr(
            "CAST(CASE WHEN np = 0 OR nn = 0 THEN 0"
            " ELSE (sp DIV np) + (sn DIV nn) END AS BIGINT) AS thr2"
        )
    )
    all_b = (
        train.sparkSession.range(B)
        .select(F.col("id").cast("int").alias("bucket"))
    )
    return (
        all_b.join(F.broadcast(score), "bucket", "left")
        .crossJoin(F.broadcast(un))
        .crossJoin(F.broadcast(thr))
        .select(
            "bucket",
            F.coalesce("bits", "unseen_bits").cast("long").alias("bits"),
            F.col("thr2").cast("long").alias("thr2"),
        )
    )


def nb_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """(doc_id, n_grams, llr_bits, mille_llr, is_quality) for the rows
    of ``docs`` against a trained model table (nb_model) — the shared
    scorer: the batch verdicts, the curate stage and the streaming
    foreachBatch scorer all run this exact expression.  The model is
    complete over the bucket domain, so the gram join is a plain inner
    broadcast equi-join with no unseen special-casing left."""
    per_doc = (
        _dsir_gram_rows(docs)
        .join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("bits").alias("llr_bits"),
            F.max("thr2").alias("thr2"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("llr_bits", F.lit(0)).cast("long").alias("llr_bits"),
            # truncating DIV == DuckDB // (the Lloyd recipe, negative-safe)
            F.coalesce(
                F.expr("llr_bits * 1000 DIV n_grams"), F.lit(0)
            ).cast("long").alias("mille_llr"),
            F.coalesce(
                F.col("llr_bits") * 2 > F.col("thr2"), F.lit(False)
            ).alias("is_quality"),
        )
    )


def q_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nb_quality_classifier(_docs(spark, sf_dir))


# label CTEs reuse the factored Gopher chain (sig), pointed at the
# synthesized nbdocs corpus.
_NB_SQL = f"""
WITH nbdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_NB_SPAM_MOD} = {_NB_SPAM_RES}
              THEN text || repeat('{_NB_SPAM}', CAST(n_chars // 20 AS INT))
              ELSE text END AS text
  FROM documents
),
{_gopher_ctes('nbdocs')},
lab AS (
  SELECT doc_id,
         CASE WHEN {_GOPHER_BAD_COND} THEN 0 ELSE 1 END AS is_pos
  FROM sig WHERE doc_id % 10 = {_NB_TRAIN_MOD}
), toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(TRIM(text)), '\\s+'),
                     x -> x != '') AS t
  FROM nbdocs
), gr AS (
  SELECT doc_id, UNNEST(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS g
  FROM toks, unnest(range(0, len(t) - 1)) AS r(i)
), grams AS (
  SELECT doc_id, {_md5_prefix_sql("md5(g)")} % {_DSIR_BUCKETS} AS bucket
  FROM gr
), bc AS (
  SELECT bucket,
         CAST(SUM(is_pos) AS BIGINT) AS c_pos,
         CAST(SUM(1 - is_pos) AS BIGINT) AS c_neg
  FROM grams JOIN lab USING (doc_id) GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(c_pos) AS BIGINT) AS s_pos,
         CAST(SUM(c_neg) AS BIGINT) AS s_neg
  FROM bc
), score AS (
  SELECT bucket,
         CAST((LENGTH(bin(((s_neg + {_DSIR_BUCKETS}) * 1024) // (c_neg + 1))) - 11)
            - (LENGTH(bin(((s_pos + {_DSIR_BUCKETS}) * 1024) // (c_pos + 1))) - 11)
              AS BIGINT) AS bits
  FROM bc, tot
), un AS (
  SELECT CAST((LENGTH(bin((s_neg + {_DSIR_BUCKETS}) * 1024)) - 11)
            - (LENGTH(bin((s_pos + {_DSIR_BUCKETS}) * 1024)) - 11) AS BIGINT)
           AS unseen_bits
  FROM tot
), nb_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(COALESCE(s.bits, u.unseen_bits)) AS BIGINT) AS llr_bits
  FROM grams g LEFT JOIN score s USING (bucket), un u
  GROUP BY doc_id
), thr AS (
  SELECT CAST(CASE WHEN np = 0 OR nn = 0 THEN 0
              ELSE (sp // np) + (sn // nn) END AS BIGINT) AS thr2
  FROM (
    SELECT CAST(COALESCE(SUM(CASE WHEN is_pos = 1
                              THEN llr_bits END), 0) AS BIGINT) AS sp,
           CAST(SUM(is_pos) AS BIGINT) AS np,
           CAST(COALESCE(SUM(CASE WHEN is_pos = 0
                              THEN llr_bits END), 0) AS BIGINT) AS sn,
           CAST(SUM(1 - is_pos) AS BIGINT) AS nn
    FROM nb_doc JOIN lab USING (doc_id)
  )
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.llr_bits, 0) AS BIGINT) AS llr_bits,
       CAST(COALESCE(p.llr_bits * 1000 // p.n_grams, 0) AS BIGINT) AS mille_llr,
       COALESCE(p.llr_bits * 2 > t.thr2, FALSE) AS is_quality
FROM documents d LEFT JOIN nb_doc p USING (doc_id), thr t
"""


# --- quality-weighted (soft) sampling over classifier scores ------------------------------

# The GPT-3 / DCLM sampling policy: documents are KEPT IN PROPORTION TO
# their classifier quality score rather than hard-gated at a threshold
# (Brown et al. 2020 App. A samples documents iff
# score > 1 - np.random.pareto(9); DCLM keeps a score-weighted
# reservoir).  Here the keep-probability ramps linearly from 0 at
# mille_llr <= _QWS_LO to 1 at mille_llr >= _QWS_HI, and the coin flip
# is the repo's deterministic md5 4-hex prefix — reproducible across
# engines and runs, no rand().  Constants picked from the measured
# sf0.01 score distribution (spam docs cluster ~ -1700, clean docs
# -100..+360): spam survives at ~0.15 rate, median clean at ~0.97,
# everything at/above 0 mille-bits always ships.  Net-new operator
# family (no reference counterpart) — the soft-sampling sibling of the
# hard --nb-quality gate.
_QWS_LO = -2000  # keep-probability 0 at/below this mille-llr
_QWS_HI = 0  # keep-probability 1 at/above this mille-llr
_QWS_W = _QWS_HI - _QWS_LO


def quality_weighted_sample(verdicts: DataFrame) -> DataFrame:
    """(doc_id, mille_llr, p64k, is_kept) for every scored doc — the
    deterministic soft-sampling verdict over a classifier score frame
    (nb_classifier_verdicts / nb_score output, or anything exposing
    doc_id + mille_llr).

    keep iff  prefix * W < (mille_llr - LO) * 65536   (integer
    cross-mult, the lang_mixture/quota recipe): algebraically
    prefix/65536 < clamp(mille_llr - LO, 0, W)/W without ever dividing —
    below LO the RHS is <= 0 (never kept), at/above HI the inequality
    holds for every prefix < 65536 (always kept), no clamp branches
    needed.  p64k = the keep-probability in 1/65536 units (truncating
    DIV == DuckDB //, ramp is non-negative) is emitted for inspection
    and oracle-checked alongside the verdict.  Docs with no grams score
    mille_llr 0 and always ship (they carry no classifier signal).

    Scale shape: three projections over the verdict frame — zero
    shuffles, zero joins beyond what the scorer itself ran."""
    p = _md5_prefix_val(F.col("doc_id")).cast("long")
    m = F.col("mille_llr").cast("long")
    return verdicts.select(
        "doc_id",
        m.alias("mille_llr"),
        F.expr(
            f"CAST(LEAST(GREATEST(mille_llr - {_QWS_LO}, 0), {_QWS_W})"
            f" * 65536 DIV {_QWS_W} AS BIGINT)"
        ).alias("p64k"),
        (p * _QWS_W < (m - F.lit(_QWS_LO)) * 65536).alias("is_kept"),
    )


def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_weighted_sample(nb_quality_classifier(_docs(spark, sf_dir)))


_QWS_SQL = f"""
WITH nb AS ({_NB_SQL})
SELECT doc_id,
       CAST(mille_llr AS BIGINT) AS mille_llr,
       CAST(LEAST(GREATEST(mille_llr - {_QWS_LO}, 0), {_QWS_W})
            * 65536 // {_QWS_W} AS BIGINT) AS p64k,
       {_md5_prefix_sql("md5(CAST(doc_id AS VARCHAR))")} * {_QWS_W}
         < (mille_llr - {_QWS_LO}) * 65536 AS is_kept
FROM nb
"""


# --- character-entropy gibberish gate -------------------------------------------------

# coarse entropy gate: docs whose per-char information density falls below
# 2 whole bits/char (English prose measures ~3.2-3.5 under the floor-log2
# quantization; repeated-char / single-token gibberish collapses to ~0)
_ENT_MIN_BITS_PER_CHAR = 2


def char_entropy_stats(docs: DataFrame) -> DataFrame:
    """Per-doc character-distribution information density (gibberish gate).

    The one corpus-quality axis the Gopher/C4 suites miss: a document of
    endlessly repeated characters or a tiny alphabet (binary spew decoded
    as text, base64 walls, "aaaa...") passes length/stopword/punctuation
    checks but has near-zero character entropy.  Signal trio:

    - ``ent_nbits``   = sum over chars c of count(c) * floor(log2(n / count(c)))
      — i.e. n x a coarse (whole-bit) Shannon entropy.  Exact integers in
      both engines: floor(log2(a / b)) == LENGTH(BIN(a DIV b)) - 1 because
      2^k <= floor(x) <= x < 2^(k+1) (the DSIR/tfidf floor-log2 recipe).
    - ``top_char_pct``  — mass of the most frequent character.
    - ``distinct_chars``.

    ``is_low_entropy`` gates at < 2 whole bits/char via integer
    cross-multiplication (no floats anywhere).

    Scale shape, batch: one explode(chars) -> map-side-combinable
    two-level hashAggregate (per-doc distinct chars is <= the alphabet,
    so the partial-agg buffers stay tiny no matter the doc length); the
    explode+agg form is deliberately chosen over a per-row HOF frequency
    map, which allocates O(alphabet) arrays per row and loses (the
    minhash_bands measurement).  Left join restores empty docs.

    Shape, streaming: the stateless join-free rowwise form (a groupBy
    on a stream would be a watermark-requiring stateful agg — the
    minhash_bands dispatch), parity-pinned by
    tests/test_char_entropy.py::test_rowwise_matches_batch.
    """
    if docs.isStreaming:
        return _char_entropy_rowwise(docs)
    pre = docs.where(F.length("text") >= 1).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.split(F.col("text"), "").alias("cs"),
    )
    counts = (
        pre.select("doc_id", "n_chars", F.explode("cs").alias("ch"))
        .groupBy("doc_id", "n_chars", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy("doc_id", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_chars"),
        F.max("c").cast("long").alias("top_char_n"),
        F.sum(F.expr("c * (LENGTH(BIN(n_chars DIV c)) - 1)"))
        .cast("long")
        .alias("ent_nbits"),
    )
    ent = F.col("ent_nbits")
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce("distinct_chars", F.lit(0)).cast("long").alias("distinct_chars"),
            F.coalesce(
                F.expr("top_char_n * 100 DIV n_chars"), F.lit(0)
            )
            .cast("long")
            .alias("top_char_pct"),
            F.coalesce(ent, F.lit(0)).cast("long").alias("ent_nbits"),
            F.coalesce(
                ent < F.col("n_chars") * _ENT_MIN_BITS_PER_CHAR, F.lit(True)
            ).alias("is_low_entropy"),
        )
    )


def _char_entropy_rowwise(docs: DataFrame) -> DataFrame:
    """Stateless per-row form (streaming path): sort the doc's char
    array once, recover per-char counts as run lengths (run-start
    indices -> adjacent differences), fold the entropy sum in-row.
    Value-identical to the batch explode+agg form.  Each intermediate
    array is materialized in its own projection with >= 2 lexical
    references downstream so CollapseProject cannot re-inline it into
    the consuming HOF lambdas (the known hazard); every array access is
    F.get (O(1)) on the sorted array — never substr on the text."""
    # split feeds array_sort directly: the argument of a plain function
    # is evaluated once per row, so the single-reference CollapseProject
    # inline is harmless here (unlike inside an HOF lambda)
    base = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.array_sort(F.split(F.col("text"), "")).alias("sc"),
    )
    # run-start indices over the sorted chars; empty text -> [''] sorts
    # to [''] but n_chars==0 gates everything downstream
    starts = base.select(
        "doc_id",
        "n_chars",
        "sc",
        F.filter(
            F.sequence(F.lit(0), F.size("sc") - 1),
            lambda i: (i == 0) | (F.get("sc", i) != F.get("sc", i - 1)),
        ).alias("idx"),
    )
    bounds = starts.select(
        "doc_id",
        "n_chars",
        F.concat("idx", F.array(F.size("sc"))).alias("bd"),
        F.size("idx").alias("n_runs"),
    )
    counts = bounds.select(
        "doc_id",
        "n_chars",
        "n_runs",
        F.zip_with(
            F.slice("bd", 1, F.col("n_runs")),
            F.slice(F.col("bd"), 2, F.col("n_runs")),
            lambda a, b: (b - a).cast("long"),
        ).alias("cn"),
    )
    n = F.col("n_chars")
    # SQL-form lambda: it can reference the outer n_chars attribute AND
    # use exact integral DIV (a Python-lambda `/` would be float division)
    ent = F.expr(
        "aggregate(cn, CAST(0 AS BIGINT),"
        " (acc, c) -> acc + c * (LENGTH(BIN(n_chars DIV c)) - 1))"
    )
    return counts.select(
        "doc_id",
        "n_chars",
        F.when(n == 0, F.lit(0)).otherwise(F.col("n_runs"))
        .cast("long")
        .alias("distinct_chars"),
        F.when(n == 0, F.lit(0))
        .otherwise(F.expr("array_max(cn) * 100 DIV n_chars"))
        .cast("long")
        .alias("top_char_pct"),
        F.when(n == 0, F.lit(0)).otherwise(ent).cast("long").alias("ent_nbits"),
        F.when(n == 0, F.lit(True))
        .otherwise(ent < n * _ENT_MIN_BITS_PER_CHAR)
        .alias("is_low_entropy"),
    )


def q_char_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_entropy_stats(_docs(spark, sf_dir))


_CHAR_ENTROPY_SQL = f"""
WITH pre AS (
  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars, text
  FROM documents WHERE LENGTH(text) >= 1
), ch AS (
  SELECT doc_id, n_chars, substring(text, CAST(i + 1 AS BIGINT), 1) AS ch
  FROM pre, unnest(range(0, n_chars)) AS r(i)
), counts AS (
  SELECT doc_id, n_chars, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM ch GROUP BY doc_id, n_chars, ch
), per_doc AS (
  SELECT doc_id, n_chars,
         CAST(COUNT(*) AS BIGINT) AS distinct_chars,
         CAST(MAX(c) AS BIGINT) AS top_char_n,
         CAST(SUM(c * (LENGTH(bin(n_chars // c)) - 1)) AS BIGINT) AS ent_nbits
  FROM counts GROUP BY doc_id, n_chars
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(COALESCE(p.distinct_chars, 0) AS BIGINT) AS distinct_chars,
       CAST(COALESCE(p.top_char_n * 100 // p.n_chars, 0) AS BIGINT) AS top_char_pct,
       CAST(COALESCE(p.ent_nbits, 0) AS BIGINT) AS ent_nbits,
       COALESCE(p.ent_nbits < p.n_chars * {_ENT_MIN_BITS_PER_CHAR}, TRUE)
         AS is_low_entropy
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES_QUALITY = {
    "repetition_stats": q_repetition_stats,
    "gram_decontamination": q_gram_decontamination,
    "source_quota_sample": q_source_quota_sample,
    "edit_distance_pairs": q_edit_distance_pairs,
    "sequence_packing_split": q_sequence_packing_split,
    "stratified_sample": q_stratified_sample,
    "lm_perplexity": q_lm_perplexity,
}

ORACLES_QUALITY = {
    "repetition_stats": _REPETITION_SQL,
    "gram_decontamination": _DECON_SQL,
    "source_quota_sample": _QUOTA_SQL,
    "edit_distance_pairs": _edit_distance_sql(),
    "sequence_packing_split": _PACKING_SPLIT_SQL,
    "stratified_sample": _stratified_sql(),
    "lm_perplexity": _LM_SQL,
}

# Demoted from the 50-entry driver registry (round 4): the plain
# contiguous-offset packing is the mode variant of sequence_packing_split
# (same distributed prefix-sum machinery; split is the trainer-consumable
# superset).  Still oracle-green via check_oracles + test_extra_oracles.
EXTRA_QUERIES_QUALITY = {
    "sequence_packing": q_sequence_packing,
    "gopher_quality_signals": q_gopher_quality_signals,
    "dsir_importance_weights": q_dsir_importance,
    "c4_line_filter": q_c4_line_filter,
    "ngram_repetition_stats": q_ngram_repetition_stats,
    "nb_quality_classifier": q_nb_quality_classifier,
    "quality_weighted_sample": q_quality_weighted_sample,
    "char_entropy_stats": q_char_entropy_stats,
    "ccnet_ppl_buckets": q_ccnet_ppl_buckets,
}
EXTRA_ORACLES_QUALITY = {
    "sequence_packing": _PACKING_SQL,
    "gopher_quality_signals": _GOPHER_SQL,
    "dsir_importance_weights": _DSIR_SQL,
    "c4_line_filter": _C4_SQL,
    "ngram_repetition_stats": _ngram_repetition_sql(),
    "nb_quality_classifier": _NB_SQL,
    "quality_weighted_sample": _QWS_SQL,
    "char_entropy_stats": _CHAR_ENTROPY_SQL,
    "ccnet_ppl_buckets": _CCNET_BUCKETS_SQL,
}
