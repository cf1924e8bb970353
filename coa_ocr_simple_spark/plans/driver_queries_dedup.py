"""Wave-3 driver queries: pairwise near-duplicate detection modalities.

Completes the dedup family (exact + MinHash bands + SimHash are in the
other modules): n-gram Jaccard pair scoring, MinHash-LSH candidate pairs
(the band buckets turned into actual pairs), and embedding-cosine
near-duplicates via quantized integer math.

Pair-generation strategy at 100 TB: never all-pairs — candidates come
from an equi-grouping on a bucket key (band signature / LSH band), which
LSH keeps small per bucket; the expensive exact score runs only on
candidates.  Two scale hazards are handled explicitly:

1. **No recompute.**  Spark has no cross-branch common-subexpression
   elimination, so a self-join of the bands DataFrame would evaluate the
   O(len(text)) md5-per-shingle transform twice.  Pairs are instead
   generated from ONE aggregation: groupBy(bucket) -> sorted doc list ->
   in-bucket (a < b) pair explosion.  The bands subtree appears exactly
   once in the plan (asserted by tests/test_plan_shape.py).  Where a
   branch genuinely must feed two consumers (gram sets joined on both
   pair sides; the funnel's survivor sets), it is ``.persist()``-ed.

2. **Hot-bucket guard.**  Template-heavy corpora produce mega-buckets
   (measured: one (band, signature) bucket holds 25% of the sf0.1 corpus
   = 763k pairs from a single bucket).  Buckets larger than
   ``_MAX_BUCKET`` are dropped BEFORE pair explosion — bounded work per
   bucket (<= _MAX_BUCKET^2/2 pairs), no straggler task.  The cap is part
   of the query's definition and is mirrored exactly in the DuckDB
   oracle, so correctness checking still hash-matches.  Semantically a
   mega-bucket is boilerplate collision: a single band agreement there is
   noise, and genuinely similar pairs still surface through their other
   bands (we require >= _MIN_BANDS_AGREE anyway).

Cache lifetime contract: the persist() calls here (bands, gram sets,
survivor sets, quantized embeddings) are INTERNAL to each returned plan
and fill lazily when the caller executes it — they cannot be unpersisted
inside the query builder without defeating their purpose.  Long-lived
sessions running many queries must call ``spark.catalog.clearCache()``
between queries (bench.py and scripts/check_oracles.py sessions do;
``connected_components`` — whose loop executes eagerly at build time —
cleans up after itself).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.observed import Observed
from .driver_queries import minhash_bands, q_dedup_minhash_bands
from .driver_queries_ext import _HEX, _probe_dim, _quantize

_MAX_BUCKET = 256  # hot-bucket guard: max docs per LSH bucket before drop


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .driver_queries import _spread

    path = f"{sf_dir}/documents.parquet"
    return _spread(spark.read.parquet(path), path)


def _pairs_within_buckets(
    df: DataFrame, keys: list[str], id_col: str, a: str, b: str
) -> DataFrame:
    """Unordered (a < b) pairs of ids sharing a bucket.

    Count-first, join-second: pass 1 aggregates bucket SIZES only
    (constant memory per key) and keeps buckets in [2, _MAX_BUCKET];
    pass 2 semi-joins the rows of surviving buckets and equi-joins them
    to themselves on the bucket key with an a < b guard.  A mega-bucket
    (10^9 identical boilerplate docs at corpus scale) is filtered out
    BEFORE the pair join, so per-bucket fan-out is bounded by
    _MAX_BUCKET^2/2 and no task can become a quadratic straggler.  The
    streaming equi-join materializes nothing per bucket (round 3: it
    replaced a sort_array(collect_list) + nested-transform pair
    explosion — measured 3.2 s -> 2.2 s at sf0.1, and at cluster scale
    it also removes the per-bucket id-array memory spike).

    The input is persisted AND eagerly filled here: its three consumers
    (size pass, both join sides) are independent stages that Spark
    schedules concurrently, and concurrent tasks over a COLD cache each
    recompute their partition of the expensive upstream (the md5-shingle
    band transform) before one wins the block store — measured 1.75x
    wall on a 50k x 3.6 kB corpus (137 s single-fill vs 239 s racing).
    One count() at build time serializes the fill; every consumer then
    reads warm blocks."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    ok_buckets = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .where((F.col("_bsz") >= 2) & (F.col("_bsz") <= _MAX_BUCKET))
        .select(*keys)
    )
    flt = df.join(ok_buckets, keys, "left_semi")
    lhs = flt.select(*keys, F.col(id_col).alias(a))
    rhs = flt.select(*keys, F.col(id_col).alias(b))
    return lhs.join(rhs, keys).where(F.col(a) < F.col(b)).select(a, b)


# --- MinHash-LSH candidate pairs ---------------------------------------------------


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Turn the band buckets into unordered candidate pairs with the
    number of agreeing bands (more bands = higher estimated Jaccard).

    One documents scan, one groupBy(band, signature), one groupBy(pair):
    the md5-shingle transform runs exactly once per doc."""
    bands = minhash_bands(docs)
    pairs = _pairs_within_buckets(
        bands, ["band", "signature"], "doc_id", "doc_a", "doc_b"
    )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_bands_agree")
    )


def q_minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_pairs(_docs(spark, sf_dir))


def _minhash_pairs_sql() -> str:
    from .driver_queries import _MINHASH_SQL

    return f"""
WITH bands AS ({_MINHASH_SQL}),
sized AS (
  SELECT doc_id, band, signature,
         COUNT(*) OVER (PARTITION BY band, signature) AS bsz
  FROM bands
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_bands_agree
FROM sized a JOIN sized b
  ON a.band = b.band AND a.signature = b.signature AND a.doc_id < b.doc_id
WHERE a.bsz <= {_MAX_BUCKET}
GROUP BY a.doc_id, b.doc_id
"""


# --- n-gram Jaccard pair scoring ------------------------------------------------------

_NGRAM = 5
_MIN_BANDS_AGREE = 3  # score only candidates agreeing on >=3/8 bands —
# the LSH contract: cheap signatures prune the pair space (2.9M -> 36k at
# sf0.1 on this template-heavy corpus) before the exact O(|grams|) check


def _gram_sets(docs: DataFrame) -> DataFrame:
    # shingling via _char_shingles (round 6): codegen'd regexp lookahead
    # on BMP rows, char-array branch for astral rows — never
    # substr(text, i, k), whose per-position byte walk is O(len^2).
    from .driver_queries import _char_shingles

    sh = _char_shingles(docs.select("doc_id", "text"), _NGRAM)
    return sh.select("doc_id", F.array_distinct("sh").alias("grams"))


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard on MinHash candidates: distinct char-5-grams
    per doc, pairs from the band buckets (>= _MIN_BANDS_AGREE bands),
    |A∩B|/|A∪B| as an integer percentage (floor), computed via array ops —
    exact in both engines.

    The gram-set DataFrame feeds BOTH sides of the pair join; Spark has
    no cross-branch CSE, so it is persisted to stop the O(len) gram
    transform running twice."""
    gram_sets = _gram_sets(docs).persist(StorageLevel.MEMORY_AND_DISK)

    candidates = (
        minhash_candidate_pairs(docs)
        .where(F.col("n_bands_agree") >= _MIN_BANDS_AGREE)
        .select("doc_a", "doc_b")
    )
    a = gram_sets.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = gram_sets.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    joined = candidates.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return joined.select(
        "doc_a",
        "doc_b",
        inter.cast("long").alias("n_common_grams"),
        union.cast("long").alias("n_total_grams"),
        F.floor(inter * 100 / union).cast("long").alias("jaccard_pct"),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir))


def _ngram_jaccard_sql() -> str:
    return f"""
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(0, GREATEST(LENGTH(text) - {_NGRAM - 1}, 1)),
             i -> substring(text, i + 1, {_NGRAM}))) AS g
  FROM documents
), pairs AS (
  SELECT * FROM ({_minhash_pairs_sql()})
  WHERE n_bands_agree >= {_MIN_BANDS_AGREE}
)
SELECT p.doc_a, p.doc_b,
       len(list_intersect(a.g, b.g)) AS n_common_grams,
       len(list_distinct(list_concat(a.g, b.g))) AS n_total_grams,
       CAST(FLOOR(len(list_intersect(a.g, b.g)) * 100.0 /
            len(list_distinct(list_concat(a.g, b.g)))) AS BIGINT) AS jaccard_pct
FROM pairs p
JOIN grams a ON p.doc_a = a.doc_id
JOIN grams b ON p.doc_b = b.doc_id
"""


# --- embedding-cosine near-duplicates --------------------------------------------------

_NEARDUP_BANDS = 4
_NEARDUP_BAND_BITS = 6  # 4 bands x 6 sign-LSH planes = 24 planes total


def _all_projections(dim: int) -> Column:
    """All 24 hyperplane projections of ``qv`` as one array column, from a
    single nested 2-D literal (24 x dim) — same md5-seeded integer plane
    family as q_ann_lsh_bucketed, but the whole bank is ONE Literal node,
    so Catalyst analysis + codegen stay cheap (a CreateArray-per-plane
    tree measured ~3 s of fresh-plan overhead; this form ~1.2 s)."""
    from .driver_queries_ext import _plane_component_py

    planes = [
        [_plane_component_py(p, i) for i in range(dim)]
        for p in range(_NEARDUP_BANDS * _NEARDUP_BAND_BITS)
    ]
    lit2d = F.lit(planes).cast("array<array<long>>")
    return F.transform(
        lit2d,
        lambda pl: F.aggregate(
            F.zip_with(F.col("qv"), pl, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def _band_signature(band: int) -> Column:
    """6-bit sign-LSH signature for one band, read off the precomputed
    ``projs`` column: bit k is the sign of projection band*6+k."""
    bits = [
        F.when(
            F.element_at("projs", band * _NEARDUP_BAND_BITS + k + 1) >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for k in range(_NEARDUP_BAND_BITS)
    ]
    return F.concat(*bits)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via banded sign-LSH + exact quantized-cosine
    check — the production scale shape (never all-pairs):

    1. every vector gets _NEARDUP_BANDS band signatures (6 hyperplane
       signs each); vectors sharing any (band, signature) bucket are
       candidates (one groupBy, in-bucket pair explosion, hot-bucket
       capped);
    2. only candidates get the exact integer-cosine test.

    Banding controls recall: for a pair at angle θ the per-plane
    agreement is 1-θ/π, per-band (1-θ/π)^6, any-of-4-bands
    1-(1-(1-θ/π)^6)^4 — ~95% at cosine 0.9, by design lower at the
    sandbox threshold 0.4 (the synthetic vectors are near-orthogonal
    noise).  The candidate rule IS part of the query definition and is
    mirrored exactly in the DuckDB oracle.

    Threshold as a pure integer cross-multiplication — no division, no
    floats, so Spark and DuckDB agree bit-for-bit:
        cos > T  <=>  dot > 0  AND  10000*dot^2 > (10000*T^2)*|a|^2*|b|^2
    """
    def long_dot(x, y):
        # quantized components are ~1e3, dim 64 -> |dot| <= ~6.4e7: long is
        # exact; decimal only enters at the final threshold compare below
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    from .driver_queries import _spread

    emb_path = f"{sf_dir}/embeddings.parquet"
    emb = (
        _spread(spark.read.parquet(emb_path), emb_path)
        .select("vec_id", _quantize(F.col("embedding")).alias("qv"))
        .withColumn("nrm", long_dot("qv", "qv"))  # norm once per VECTOR, not per pair
        .persist(StorageLevel.MEMORY_AND_DISK)  # feeds bucketing + both join sides
    )
    dim = _probe_dim(spark, sf_dir)
    sigs = F.array(*[_band_signature(bnd) for bnd in range(_NEARDUP_BANDS)])
    banded = (
        emb.withColumn("projs", _all_projections(dim))
        .select("vec_id", F.posexplode(sigs).alias("band", "sig"))
        .withColumn("band", F.col("band").cast("long"))
    )
    candidates = _pairs_within_buckets(
        banded, ["band", "sig"], "vec_id", "id_a", "id_b"
    ).distinct()

    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("va"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = candidates.join(a, "id_a").join(b, "id_b")

    dec = lambda c: F.col(c).cast("decimal(38,0)")
    scored = pairs.select(
        "id_a", "id_b", long_dot("va", "vb").alias("dot"), "na", "nb"
    )
    return scored.where(
        (F.col("dot") > 0)
        & (dec("dot") * dec("dot") * 10000 > dec("na") * dec("nb") * 1600)
    ).select("id_a", "id_b", F.col("dot").alias("dot_q"))


def _neardup_band_sql_bits() -> str:
    """The 6 sign bits for one band, with `band` a column in scope."""
    bits = []
    for k in range(_NEARDUP_BAND_BITS):
        plane = f"CAST(band * {_NEARDUP_BAND_BITS} + {k} AS VARCHAR)"
        comp = (
            f"CAST((instr('{_HEX}', substring(md5('p' || {plane} || '|' || "
            "CAST(i AS VARCHAR)), 1, 1)) - 1) * 2 - 15 AS BIGINT)"
        )
        bits.append(
            "CASE WHEN CAST(list_dot_product(qv, "
            f"list_transform(range(0, len(qv)), i -> {comp})"
            ") AS BIGINT) >= 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def _embedding_neardup_sql() -> str:
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), banded AS (
  SELECT vec_id, band, {_neardup_band_sql_bits()} AS sig
  FROM q, range(0, {_NEARDUP_BANDS}) AS r(band)
), sized AS (
  SELECT vec_id, band, sig,
         COUNT(*) OVER (PARTITION BY band, sig) AS bsz
  FROM banded
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sized a JOIN sized b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE a.bsz <= {_MAX_BUCKET}
), scored AS (
  SELECT c.id_a, c.id_b,
         CAST(list_dot_product(a.qv, b.qv) AS HUGEINT) AS dot,
         CAST(list_dot_product(a.qv, a.qv) AS HUGEINT) AS na,
         CAST(list_dot_product(b.qv, b.qv) AS HUGEINT) AS nb
  FROM cand c JOIN q a ON c.id_a = a.vec_id JOIN q b ON c.id_b = b.vec_id
)
SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot_q
FROM scored
WHERE dot > 0 AND 10000 * dot * dot > 1600 * na * nb
"""


# --- SemDeDup: cluster-scoped semantic pruning ------------------------------------------

# Abbas et al. 2023 (SemDeDup): cluster the embedding space, compare
# pairs only WITHIN a cluster, and among semantically-duplicate pairs
# keep the example with the LOWEST similarity to its cluster centroid
# (the "keep the outlier" policy — centroid-typical members carry the
# least marginal information).  Complements embedding_neardup: that op
# LISTS near-dup pairs via sign-LSH recall; this one makes the
# per-example KEEP/DROP decision via an exhaustive in-cluster scan,
# which is the published algorithm's shape (k-means partitions make the
# quadratic local).
_SEMDEDUP_TAU_SQ_E4 = 1600  # cos > 0.40 — same planted-dup threshold as neardup
# hot-cluster guard, same rationale as _MAX_IVF_LIST: one cluster's
# pairs land in one equi-join task, so a degenerate quantizer cell would
# become a single-task quadratic scan.  Oversized clusters skip the pair
# stage (their members are all kept); production would re-train or split
# the cell.  Part of the query definition, mirrored in the oracle.
_MAX_SEMDEDUP_CLUSTER = 4096


def _long_dot(x, y) -> Column:
    """Exact integer dot product of two quantized arrays (components
    ~1e3, dim 64 -> |dot| <= ~6.4e7: long is exact)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .driver_queries import _spread

    path = f"{sf_dir}/embeddings.parquet"
    return semdedup_prune(_spread(spark.read.parquet(path), path))


def semdedup_prune(emb_raw: DataFrame) -> DataFrame:
    """Per-vector SemDeDup verdict: (vec_id, centroid_id, n_similar,
    is_semdup_dropped).

    Plan shape at 10^12 vectors: centroids are a deterministic 1/97
    seed subset — broadcast for ASSIGNMENT only (rank-1 argmax per
    vector); every later step is an equi-join/agg on centroid_id or
    vec_id, co-partitioned, never all-pairs.  In-cluster pair fan-out
    is bounded by the _MAX_SEMDEDUP_CLUSTER cap.  All comparisons are
    exact integers: quantized dot products, the cosine threshold as a
    cross-multiplication (cos > T  <=>  dot > 0 AND 1e4*dot^2 >
    (1e4*T^2)*|a|^2*|b|^2), and the keep-policy comparison
    cos(a,c) vs cos(b,c) via the signed-square cross-mult
    ca*|ca|*nrm_b  vs  cb*|cb|*nrm_a (|c| cancels, sqrt eliminated by
    t*|t| monotonicity) in decimal(38,0) — ties drop the larger
    vec_id.  A vector is dropped iff ANY in-cluster neighbor above the
    threshold is strictly more keep-worthy (closer-to-centroid members
    lose, per the paper)."""
    from .driver_queries_ext import _IVF_CENTROID_MOD

    emb = emb_raw.select(
        "vec_id", _quantize(F.col("embedding")).alias("qv")
    ).withColumn("nrm", _long_dot("qv", "qv"))
    centroids = emb.where(F.col("vec_id") % _IVF_CENTROID_MOD == 1).select(
        F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    cand = emb.crossJoin(F.broadcast(centroids))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cdot"), F.asc("centroid_id")
    )
    assigned = (
        cand.select(
            "vec_id", "qv", "nrm", "centroid_id",
            _long_dot("qv", "cv").alias("cdot"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # 4 independent consumers (size pass, both pair sides, final join)
    # over an expensive subtree (broadcast fan-out + window): eager fill,
    # the _pairs_within_buckets cold-cache-race rationale.
    assigned.count()

    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("csz")
    )
    small = assigned.join(
        sizes.where(F.col("csz") <= _MAX_SEMDEDUP_CLUSTER),
        "centroid_id",
        "left_semi",
    )
    a = small.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"), F.col("qv").alias("va"),
        F.col("nrm").alias("na"), F.col("cdot").alias("ca"),
    )
    b = small.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"), F.col("qv").alias("vb"),
        F.col("nrm").alias("nb"), F.col("cdot").alias("cb"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pr = (
        a.join(b, "centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "na", "nb", "ca", "cb",
            _long_dot("va", "vb").alias("dot"),
        )
    )
    sim = (
        pr.where(
            (F.col("dot") > 0)
            & (
                dec("dot") * dec("dot") * 10000
                > dec("na") * dec("nb") * _SEMDEDUP_TAU_SQ_E4
            )
        )
        .withColumn("ka", dec("ca") * F.abs(dec("ca")) * dec("nb"))
        .withColumn("kb", dec("cb") * F.abs(dec("cb")) * dec("na"))
        .select(
            "id_a", "id_b",
            F.when(F.col("ka") > F.col("kb"), F.col("id_a"))
            .when(F.col("ka") < F.col("kb"), F.col("id_b"))
            .otherwise(F.greatest("id_a", "id_b"))
            .alias("loser"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)  # consumers: counts + losers
    )
    # eager fill (round 6): the counts and losers stages are scheduled
    # concurrently in the final job — over a COLD cache each would
    # recompute the whole in-cluster pair scoring (the racing-recompute
    # hazard measured at 1.75x in _pairs_within_buckets)
    sim.count()
    # one-pass endpoint explode instead of a two-branch union
    nsim = (
        sim.select(F.explode(F.array("id_a", "id_b")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_sim"))
    )
    losers = sim.select(F.col("loser").alias("vec_id")).distinct().withColumn(
        "flag", F.lit(1)
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .join(nsim, "vec_id", "left")
        .join(losers, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce("n_sim", F.lit(0)).cast("long").alias("n_similar"),
            F.coalesce("flag", F.lit(0))
            .cast("long")
            .alias("is_semdup_dropped"),
        )
    )


def _semdedup_sql() -> str:
    from .driver_queries_ext import _IVF_CENTROID_MOD

    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 1000) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS HUGEINT) AS nrm FROM q
), c AS (
  SELECT vec_id AS centroid_id, qv AS cv FROM q
  WHERE vec_id % {_IVF_CENTROID_MOD} = 1
), scored AS (
  SELECT n.vec_id, n.qv, n.nrm, c.centroid_id,
         CAST(list_dot_product(n.qv, c.cv) AS HUGEINT) AS cdot,
         ROW_NUMBER() OVER (PARTITION BY n.vec_id
                            ORDER BY CAST(list_dot_product(n.qv, c.cv) AS BIGINT) DESC,
                                     c.centroid_id ASC) AS rn
  FROM n CROSS JOIN c
), assigned AS (
  SELECT vec_id, qv, nrm, centroid_id, cdot FROM scored WHERE rn = 1
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY centroid_id) AS csz FROM assigned
), pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.nrm AS na, b.nrm AS nb, a.cdot AS ca, b.cdot AS cb,
         CAST(list_dot_product(a.qv, b.qv) AS HUGEINT) AS dot
  FROM sized a JOIN sized b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE a.csz <= {_MAX_SEMDEDUP_CLUSTER}
), sim AS (
  SELECT id_a, id_b,
         CASE WHEN ca * abs(ca) * nb > cb * abs(cb) * na THEN id_a
              WHEN ca * abs(ca) * nb < cb * abs(cb) * na THEN id_b
              ELSE greatest(id_a, id_b) END AS loser
  FROM pr
  WHERE dot > 0 AND 10000 * dot * dot > {_SEMDEDUP_TAU_SQ_E4} * na * nb
), nsim AS (
  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_similar FROM (
    SELECT id_a AS vec_id FROM sim UNION ALL SELECT id_b FROM sim
  ) GROUP BY vec_id
), losers AS (
  SELECT DISTINCT loser AS vec_id FROM sim
)
SELECT a.vec_id, a.centroid_id,
       CAST(COALESCE(s.n_similar, 0) AS BIGINT) AS n_similar,
       CAST(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_semdup_dropped
FROM assigned a
LEFT JOIN nsim s USING (vec_id)
LEFT JOIN losers l USING (vec_id)
"""


# --- near-dup clustering (connected components over Jaccard pairs) ----------------------

_CLUSTER_JACCARD_MIN = 80
_MAX_CC_ITERS = 25  # iteration cap; with pointer jumping the rounds grow
# ~log2(diameter), so 25 covers diameters far beyond any real corpus —
# and hitting the cap unconverged RAISES instead of emitting wrong labels


class ConvergenceError(RuntimeError):
    """An iterative algorithm hit its round cap without converging."""


def connected_components(
    edges: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = _MAX_CC_ITERS,
    stats: dict | None = None,
) -> DataFrame:
    """Min-label connected components with pointer jumping (round-2
    verdict item 4 — the scale-hardened loop shape):

    - each round every node takes min(own, neighbors' labels) AND then
      min(that, label-of-that-label) — the pointer-jumping/path-halving
      step that turns diameter-bound convergence into ~log2(diameter)
      rounds (hash-to-min family, Rastogi et al. 2013);
    - each round's labels are ``localCheckpoint(eager=True)``-ed, so
      round N's plan never nests N persisted subtrees — plan depth and
      task-deserialization cost stay CONSTANT per round;
    - one count() action per round (the convergence check — the only
      driver-side loop in the engine, standard for iterative graph
      algorithms on DataFrames);
    - exhausting ``max_iters`` unconverged raises ConvergenceError: wrong
      cluster ids must never be silently emitted at scale (the sf0.01
      oracle corpus has only tiny components and cannot catch it).

    Returns (doc_id, cluster_id = component-min doc_id).  ``stats``
    (optional) receives {"rounds": n} for plan-depth assertions in tests.
    """
    if max_iters < 1:
        raise ValueError(f"connected_components: max_iters must be >= 1, got {max_iters}")
    # persist the edge frame BEFORE the symmetrizing union (round 6): the
    # union's two branches are two independent consumers of ``edges``,
    # and Spark has no cross-branch CSE — un-persisted, the entire
    # upstream pair chain (bucket self-join + exact scoring) executed
    # TWICE during the fill below (measured ~1.5 s per clusters query at
    # sf0.1).  ``both`` itself derives from the cached rows by a column
    # swap, so it needs no second persist.
    canon = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    both = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # size the per-round shuffles to the EDGE count, not the session
    # default: the near-dup graph is orders of magnitude smaller than the
    # corpus, and an iterative loop pays per-partition scheduler overhead
    # every round (measured: 32-partition shuffles over a few hundred
    # edges made each round ~2 s of pure task overhead at sf0.1).  Never
    # raised above the session setting, always restored after the loop;
    # the count() doubles as the persist fill for ``both``.
    sess = edges.sparkSession
    # one eager fill of the canonical edges; the union then reads warm
    # blocks (n_edges counts both directions, as before)
    n_edges = 2 * canon.count()
    old_parts = sess.conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(1, min(int(old_parts), n_edges // 50_000 + 1))
    sess.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    # AQE per-stage replanning is pure overhead for a SINGLE-partition
    # loop shuffle: with one partition there is nothing to coalesce and
    # no skew to split, but every round still pays 3-4 adaptive stage
    # re-optimizations (measured round 6: first loop execution 3.1 s ->
    # 1.0 s with AQE off; steady unchanged).  Larger graphs (loop_parts
    # > 1) keep AQE — its skew-join splitting is load-bearing there.
    old_aqe = sess.conf.get("spark.sql.adaptive.enabled")
    if loop_parts == 1:
        sess.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _cc_loop(both, max_iters, stats)
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", old_parts)
        sess.conf.set("spark.sql.adaptive.enabled", old_aqe)
        canon.unpersist()


def _cc_loop(both: DataFrame, max_iters: int, stats: dict | None) -> DataFrame:
    # LAZY checkpoint (round 6): the init labels are first consumed inside
    # round 1's materialization, which checkpoints them as a side effect —
    # one fewer driver-side job per CC invocation, same lineage cut.
    labels = (
        both.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    rounds = 0
    converged = False
    changed = -1  # defensive: referenced in the error message below
    for _ in range(max_iters):
        rounds += 1
        neighbor_min = (
            both.join(labels, both.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                    "label"
                ),
                F.col("label").alias("_old"),
            )
        )
        # pointer jump: follow my (new) label to ITS current label — the
        # label column always holds node ids, so label-of-label is valid
        # and monotonically non-increasing toward the component min
        lbl = labels.select(
            F.col("doc_id").alias("l_id"), F.col("label").alias("l_label")
        )
        jumped = (
            stepped.join(lbl, stepped.label == lbl.l_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("l_label", F.col("label"))
                ).alias("label"),
                F.col("_old"),
            )
        )
        # truncate lineage every round (constant-depth plans) and carry a
        # per-row changed flag INTO the checkpoint: the convergence check
        # is then a filter-count over the materialized rows instead of a
        # distributed join of the old and new label sets — one fewer
        # shuffle join per round, ~log2(diameter) rounds saved per run.
        # LAZY checkpoint + count (round 6): the count triggers the
        # checkpoint materialization AND returns the convergence signal
        # in the SAME job — halves the per-round driver round trips vs
        # eager-checkpoint-then-count (measured on the sf0.1 loop).
        flagged = jumped.select(
            "doc_id", "label", (F.col("label") != F.col("_old")).alias("_chg")
        ).localCheckpoint(eager=False)
        changed = flagged.where(F.col("_chg")).count()
        labels = flagged.select("doc_id", "label")
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise ConvergenceError(
            f"connected_components: not converged after {max_iters} rounds "
            f"({changed} labels still changing) — raising instead of "
            "emitting wrong cluster ids"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def neardup_clusters(docs: DataFrame) -> DataFrame:
    """Connected components over the >= threshold Jaccard pairs: the
    dedup FINAL step.  Dropping doc_b of every pair (the funnel's simple
    rule) over-deletes chains (a~b, b~c deletes b and c even if a!~c);
    clustering keeps exactly one representative (the min doc_id) per
    component.  Iteration mechanics live in ``connected_components``."""
    edges = (
        ngram_jaccard_pairs(docs)
        .where(F.col("jaccard_pct") >= _CLUSTER_JACCARD_MIN)
        .select("doc_a", "doc_b")
    )
    return connected_components(edges)


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_clusters(_docs(spark, sf_dir))


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the embedding-cosine near-dup edges —
    the same operator composition as neardup_clusters but on the vector
    modality: semantically-duplicate GROUPS (not just pairs), one
    representative (min vec_id) per component.  Reuses the hardened
    connected_components loop (pointer jumping, localCheckpoint,
    ConvergenceError)."""
    edges = q_embedding_neardup(spark, sf_dir).select("id_a", "id_b")
    return connected_components(edges, src="id_a", dst="id_b").select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


def _embedding_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_embedding_neardup_sql()})
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach AS (
  SELECT DISTINCT src AS vec_id, src AS other FROM edges
  UNION
  SELECT r.vec_id, e.dst AS other
  FROM reach r JOIN edges e ON r.other = e.src
)
SELECT vec_id, MIN(other) AS cluster_id
FROM reach GROUP BY vec_id
"""


def _neardup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_ngram_jaccard_sql()})
  WHERE jaccard_pct >= {_CLUSTER_JACCARD_MIN}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach AS (
  SELECT DISTINCT src AS doc_id, src AS other FROM edges
  UNION
  SELECT r.doc_id, e.dst AS other
  FROM reach r JOIN edges e ON r.other = e.src
)
SELECT doc_id, MIN(other) AS cluster_id
FROM reach GROUP BY doc_id
"""


# --- the curation funnel (composition of the training-data ops) -------------------------

_FUNNEL_JACCARD_MIN = 80  # near-dup drop threshold (percent)


class CurationStages(NamedTuple):
    """The funnel's stage frames (each a doc_id set), the input size, and
    the observed stage counts (``Observed`` metrics ``n_quality``,
    ``n_after_exact_dedup`` and ``n_curated``)."""

    quality: DataFrame
    surviving_exact: DataFrame
    final: DataFrame
    n_total: int
    counts: tuple[Observed, ...]


def curation_stages(
    docs: DataFrame,
    jaccard_min: int = _FUNNEL_JACCARD_MIN,
    cluster_reps: bool = False,
) -> CurationStages:
    """The funnel's stage DataFrames over an arbitrary documents-shaped
    input: quality survivors, post-exact-dedup survivors and the final
    curated doc_ids.  Shared by the driver query and jobs/curate.py.

    ``cluster_reps=False`` (default, the oracle-checked funnel): drop
    doc_b of every >= threshold pair — no surviving pair is a near-dup
    pair, but two docs that are both similar to a third (yet not to each
    other) both survive.  ``cluster_reps=True``: connected components
    over the pair graph keep exactly ONE representative (min doc_id) per
    duplicate group — the group-level policy production pipelines use.
    The CC loop executes eagerly at build time (driver-side rounds),
    which is why the flag lives on the job, not on a driver query.

    Actions: building the stages runs exactly two, the eager fill of the
    input below (its count is ``n_total``) and the bands fill in
    ``_pairs_within_buckets`` (plus the CC rounds with ``cluster_reps``).
    The three survivor counts are ``DataFrame.observe`` metrics attached
    below the persists, so the caller's first action over ``final``
    reports all three; an action that reads ``final`` once reads each
    persisted set once (see operators/observed.py).

    The quality and post-exact-dedup survivor sets are persisted
    (doc_id-only, tiny) so no upstream stage re-executes when a caller
    consumes them again.  The input docs feed FOUR independent stage
    subtrees (quality, exact dedup, gram sets, minhash bands) — Spark
    has no cross-branch CSE, so the scan+spread subtree is persisted
    once here instead of executing four times (round-2 verdict item 5)."""
    from .driver_queries import dedup_exact
    from .driver_queries_ext import language_quality

    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    # eager fill: the four consumer stages are independent and Spark
    # schedules them concurrently — concurrent tasks over a COLD cache
    # each recompute their partition of the scan before one wins the
    # block store (measured 1.75x wall in _pairs_within_buckets)
    n_total = docs.count()
    n_quality = Observed.rows(
        language_quality(docs).where(F.col("is_quality")).select("doc_id"),
        "n_quality",
    )
    quality = n_quality.df.persist(StorageLevel.MEMORY_AND_DISK)
    exact_reps = dedup_exact(docs).select(
        F.col("representative_doc_id").alias("doc_id")
    )
    pairs = ngram_jaccard_pairs(docs).where(F.col("jaccard_pct") >= jaccard_min)
    if cluster_reps:
        clusters = connected_components(pairs.select("doc_a", "doc_b"))
        neardup_losers = clusters.where(
            F.col("doc_id") != F.col("cluster_id")
        ).select("doc_id")
    else:
        # no distinct: the left-anti consumer is set-semantics already,
        # and the dedup would cost one more shuffle of the loser ids
        neardup_losers = pairs.select(F.col("doc_b").alias("doc_id"))
    n_exact = Observed.rows(
        quality.join(exact_reps, "doc_id", "left_semi"), "n_after_exact_dedup"
    )
    surviving_exact = n_exact.df.persist(StorageLevel.MEMORY_AND_DISK)
    n_curated = Observed.rows(
        surviving_exact.join(neardup_losers, "doc_id", "left_anti"), "n_curated"
    )
    return CurationStages(
        quality, surviving_exact, n_curated.df, n_total,
        (n_quality, n_exact, n_curated),
    )


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — what the dedup/quality operators exist
    for: quality gate -> exact dedup (keep min-doc_id representative) ->
    near-dup removal (drop the larger doc_id of any >=80% Jaccard pair).
    Emits the per-stage survivor counts as one row, each stage a pure
    composition of the already-verified operators."""
    docs = _docs(spark, sf_dir)
    quality, surviving_exact, final = curation_stages(docs)[:3]
    return (
        docs.select("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(quality.agg(F.count(F.lit(1)).alias("n_quality")))
        .crossJoin(surviving_exact.agg(F.count(F.lit(1)).alias("n_after_exact_dedup")))
        .crossJoin(final.agg(F.count(F.lit(1)).alias("n_curated")))
    )


def _curation_funnel_sql() -> str:
    from .driver_queries import _DEDUP_EXACT_SQL
    from .driver_queries_ext import _language_quality_sql

    return f"""
WITH quality AS (
  SELECT doc_id FROM ({_language_quality_sql()}) WHERE is_quality
), reps AS (
  SELECT representative_doc_id AS doc_id FROM ({_DEDUP_EXACT_SQL})
), losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM ({_ngram_jaccard_sql()})
  WHERE jaccard_pct >= {_FUNNEL_JACCARD_MIN}
), surviving AS (
  SELECT q.doc_id FROM quality q WHERE q.doc_id IN (SELECT doc_id FROM reps)
), final AS (
  SELECT s.doc_id FROM surviving s
  WHERE s.doc_id NOT IN (SELECT doc_id FROM losers)
)
SELECT (SELECT COUNT(*) FROM documents) AS n_total,
       (SELECT COUNT(*) FROM quality) AS n_quality,
       (SELECT COUNT(*) FROM surviving) AS n_after_exact_dedup,
       (SELECT COUNT(*) FROM final) AS n_curated
"""


QUERIES_DEDUP = {
    "curation_funnel": q_curation_funnel,
    "neardup_clusters": q_neardup_clusters,
    "embedding_clusters": q_embedding_clusters,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "embedding_neardup": q_embedding_neardup,
}

ORACLES_DEDUP = {
    "curation_funnel": _curation_funnel_sql(),
    "neardup_clusters": _neardup_clusters_sql(),
    "embedding_clusters": _embedding_clusters_sql(),
    "ngram_jaccard_pairs": _ngram_jaccard_sql(),
    "embedding_neardup": _embedding_neardup_sql(),
}

# --- PageRank over the near-dup candidate graph --------------------------------------------
#
# The second iterative graph operator next to connected_components:
# centrality over the LSH candidate-pair graph surfaces TEMPLATE HUBS —
# documents near-duplicated by many others (boilerplate sources, spam
# farms) — which degree alone under-ranks when the copies also copy
# each other.  Exactly _PR_ITERS fixed power-iteration rounds in
# integer PPM fixed point, so the DuckDB oracle unrolls the same
# arithmetic CTE-per-round and matches hash-for-hash (the Lloyd-chain
# recipe); per-round contribution is (rank * 850) DIV (1000 * deg) —
# one truncating division, damping 0.85 as an exact mille ratio.
#
# Scale shape: the graph inherits every pair-generator bound (hot-
# bucket cap, n_bands_agree gate); each round is one equi-join +
# map-side-combinable sum, lineage cut per round with localCheckpoint
# (the connected_components recipe), never a growing plan.

_PR_ITERS = 3
_PR_BASE_PPM = 150_000  # (1 - d) * 1e6
_PR_DAMP_MILLE = 850  # d = 0.85


def neardup_pagerank(docs: DataFrame) -> DataFrame:
    """(doc_id, degree, rank_ppm): PageRank after _PR_ITERS integer
    power iterations over the symmetric near-dup candidate graph
    (nodes = docs in >= 1 agreeing candidate pair)."""
    # persist BEFORE the symmetrizing union (round 6, the
    # connected_components lesson): the union's two branches would each
    # re-run the un-persisted pair-agg tail during the fill.
    pairs = (
        minhash_candidate_pairs(docs)
        .where(F.col("n_bands_agree") >= _MIN_BANDS_AGREE)
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs.count()  # eager fill: both union branches + rounds consume it
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    deg = deg.persist(StorageLevel.MEMORY_AND_DISK)
    deg.count()
    ranks = deg.select(
        F.col("src").alias("doc_id"),
        F.lit(1_000_000).cast("long").alias("rank_ppm"),
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("doc_id"),
                F.expr(
                    f"(rank_ppm * {_PR_DAMP_MILLE}) DIV (1000 * deg)"
                ).alias("c"),
            )
        )
        sums = contrib.groupBy("doc_id").agg(F.sum("c").alias("s"))
        ranks = (
            deg.select(F.col("src").alias("doc_id"))
            .join(sums, "doc_id", "left")
            .select(
                "doc_id",
                (F.lit(_PR_BASE_PPM) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("rank_ppm"),
            )
            .localCheckpoint(eager=True)  # per-round lineage cut
        )
    return deg.join(
        ranks, deg["src"] == ranks["doc_id"]
    ).select("doc_id", F.col("deg").cast("long").alias("degree"), "rank_ppm")


def q_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .driver_queries import _docs

    return neardup_pagerank(_docs(spark, sf_dir))


def _pagerank_sql() -> str:
    sql = f"""
WITH pr_pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_pairs_sql()})
  WHERE n_bands_agree >= {_MIN_BANDS_AGREE}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pr_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pr_pairs
), deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT src AS doc_id, CAST(1000000 AS BIGINT) AS rank_ppm FROM deg
)"""
    for t in range(1, _PR_ITERS + 1):
        sql += f""", c{t} AS (
  SELECT e.dst AS doc_id,
         CAST((r.rank_ppm * {_PR_DAMP_MILLE}) // (1000 * d.deg) AS BIGINT)
           AS c
  FROM edges e
  JOIN r{t - 1} r ON e.src = r.doc_id
  JOIN deg d ON e.src = d.src
), r{t} AS (
  SELECT n.doc_id,
         CAST({_PR_BASE_PPM} + COALESCE(s.s, 0) AS BIGINT) AS rank_ppm
  FROM (SELECT src AS doc_id FROM deg) n
  LEFT JOIN (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS s
             FROM c{t} GROUP BY doc_id) s USING (doc_id)
)"""
    sql += f"""
SELECT d.src AS doc_id, d.deg AS degree, r.rank_ppm
FROM deg d JOIN r{_PR_ITERS} r ON d.src = r.doc_id
"""
    return sql


# --- LSH operating-point calibration --------------------------------------------------------
#
# The tuning question every MinHash deployment faces: what does "k of 8
# bands agree" MEAN in true-similarity terms on THIS corpus?  This
# rollup joins every candidate pair (no agree gate) with its exact
# n-gram Jaccard and aggregates per agreement level — n_pairs, the
# Jaccard distribution (mean/min/max, integer pct) and the fraction of
# pairs that clear the near-dup truth threshold (_CLUSTER_JACCARD_MIN).
# Reading it answers "is _MIN_BANDS_AGREE=3 the right gate" with data
# instead of theory; output is <= n_bands rows.
#
# Cost note: pair COUNTS per level are always exact (they come straight
# off the candidate generator).  The exact-Jaccard scoring join, which
# is the cost (level 1 alone is ~1.2M of sf0.1's ~1.45M candidates),
# runs on every pair at levels >= _CAL_EXACT_LEVEL but on a
# DETERMINISTIC 1-in-_CAL_SAMPLE_DIV md5-pair sample below it — the
# md5-4-hex-prefix integer cross-mult recipe (source_quota_sample /
# lang_mixture), mirrored in the oracle.  n_scored is reported next to
# n_pairs so the sampled levels are visibly estimates (a 1/16 sample of
# >= 26k pairs holds the precision CI within ~1pct); levels that decide
# the gate (around _MIN_BANDS_AGREE) stay exact.  This turned the
# scoring join from 1.45M to ~93k pairs at sf0.1.

_CAL_EXACT_LEVEL = 3  # levels >= this: every pair scored exactly
_CAL_SAMPLE_DIV = 16  # below: deterministic 1-in-16 md5-pair sample


def lsh_calibration(docs: DataFrame) -> DataFrame:
    """(n_bands_agree, n_pairs, n_scored, mean_jaccard_pct,
    min_jaccard_pct, max_jaccard_pct, neardup_precision_pct) per
    agreement level; stats are NULL for a level with no scored pairs
    (only possible on tiny synthetic corpora)."""
    from .driver_queries_mix import _hex_int_val

    gram_sets = _gram_sets(docs).persist(StorageLevel.MEMORY_AND_DISK)
    candidates = minhash_candidate_pairs(docs).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    candidates.count()  # eager fill: level counts + scoring join both consume it
    counts = candidates.groupBy("n_bands_agree").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    pair_key = F.md5(
        F.concat_ws(
            "|", F.col("doc_a").cast("string"), F.col("doc_b").cast("string")
        )
    )
    sampled = candidates.where(
        (F.col("n_bands_agree") >= _CAL_EXACT_LEVEL)
        | (_hex_int_val(pair_key, 1, 4) * _CAL_SAMPLE_DIV < 65536)
    )
    a = gram_sets.select(
        F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga")
    )
    b = gram_sets.select(
        F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    jac = F.floor(inter * 100 / union).cast("long")
    scored = (
        sampled.join(a, "doc_a")
        .join(b, "doc_b")
        .select("n_bands_agree", jac.alias("jac"))
    )
    stats = scored.groupBy("n_bands_agree").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum("jac").alias("s_jac"),
        F.min("jac").alias("min_jaccard_pct"),
        F.max("jac").alias("max_jaccard_pct"),
        F.sum((F.col("jac") >= _CLUSTER_JACCARD_MIN).cast("long")).alias(
            "n_true"
        ),
    )
    return (
        counts.join(stats, "n_bands_agree", "left")
        .select(
            "n_bands_agree",
            "n_pairs",
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            F.expr(
                "CASE WHEN n_scored > 0"
                " THEN CAST(s_jac DIV n_scored AS BIGINT) END"
            ).alias("mean_jaccard_pct"),
            "min_jaccard_pct",
            "max_jaccard_pct",
            F.expr(
                "CASE WHEN n_scored > 0"
                " THEN CAST((n_true * 100) DIV n_scored AS BIGINT) END"
            ).alias("neardup_precision_pct"),
        )
    )


def q_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .driver_queries import _docs

    return lsh_calibration(_docs(spark, sf_dir))


def _lsh_calibration_sql() -> str:
    from .driver_queries_mix import _hex_int_sql

    pair_key = "md5(CAST(doc_a AS VARCHAR) || '|' || CAST(doc_b AS VARCHAR))"
    return f"""
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(0, GREATEST(LENGTH(text) - {_NGRAM - 1}, 1)),
             i -> substring(text, i + 1, {_NGRAM}))) AS g
  FROM documents
), cands AS (
  SELECT * FROM ({_minhash_pairs_sql()})
), counts AS (
  SELECT n_bands_agree, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM cands GROUP BY n_bands_agree
), samp AS (
  SELECT * FROM cands
  WHERE n_bands_agree >= {_CAL_EXACT_LEVEL}
     OR {_hex_int_sql(pair_key, 1, 4)} * {_CAL_SAMPLE_DIV} < 65536
), scored AS (
  SELECT c.n_bands_agree,
         CAST(FLOOR(len(list_intersect(a.g, b.g)) * 100.0 /
              len(list_distinct(list_concat(a.g, b.g)))) AS BIGINT) AS jac
  FROM samp c
  JOIN grams a ON c.doc_a = a.doc_id
  JOIN grams b ON c.doc_b = b.doc_id
), stats AS (
  SELECT n_bands_agree,
         CAST(COUNT(*) AS BIGINT) AS n_scored,
         CAST(SUM(jac) AS BIGINT) AS s_jac,
         CAST(MIN(jac) AS BIGINT) AS min_jaccard_pct,
         CAST(MAX(jac) AS BIGINT) AS max_jaccard_pct,
         CAST(SUM(CASE WHEN jac >= {_CLUSTER_JACCARD_MIN} THEN 1
                       ELSE 0 END) AS BIGINT) AS n_true
  FROM scored GROUP BY n_bands_agree
)
SELECT c.n_bands_agree, c.n_pairs,
       CAST(COALESCE(s.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(CASE WHEN s.n_scored > 0 THEN s.s_jac // s.n_scored END
            AS BIGINT) AS mean_jaccard_pct,
       s.min_jaccard_pct,
       s.max_jaccard_pct,
       CAST(CASE WHEN s.n_scored > 0 THEN (s.n_true * 100) // s.n_scored END
            AS BIGINT) AS neardup_precision_pct
FROM counts c LEFT JOIN stats s USING (n_bands_agree)
"""


# --- triangle counting on the near-dup candidate graph -------------------------------------
#
# The clustering-structure probe next to CC (membership) and PageRank
# (centrality): a document whose neighbours are also near-dups of EACH
# OTHER sits inside a template CLUSTER (boilerplate family); one whose
# neighbours don't know each other is a hub stitching unrelated docs
# (shingle collision, mixed-content page).  The local clustering
# coefficient separates the two — pure joins, exactly oracle-able.
#
# Shape: the standard distributed triangle count — canonical a<b edges,
# wedge build by one self-join on the lower endpoint, then a semi-join
# of wedge closures against the edge set.  Wedge fan-out is deg^2 per
# node, bounded because degree inherits the hot-bucket cap.


def neardup_triangles(docs: DataFrame) -> DataFrame:
    """(doc_id, degree, n_triangles, clustering_mille): per-doc
    triangle membership count and integer local clustering coefficient
    (2 * tri * 1000) DIV (deg * (deg - 1)); docs in >= 1 agreeing pair
    only."""
    pairs = (
        minhash_candidate_pairs(docs)
        .where(F.col("n_bands_agree") >= _MIN_BANDS_AGREE)
        .select("doc_a", "doc_b")  # already canonical doc_a < doc_b
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs.count()  # eager fill: deg + wedges + closure all consume it
    # one-pass endpoint explode (round 6): explode(array(a, b)) reads the
    # cached pairs once instead of a two-branch union
    deg = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # wedges (a < b < c with a-b and a-c edges), closed iff b-c is an edge
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    wedges = e1.join(e2, "a").where(F.col("b") < F.col("c"))
    closed = wedges.join(
        pairs.select(
            F.col("doc_a").alias("b"), F.col("doc_b").alias("c")
        ),
        ["b", "c"],
        "left_semi",
    )
    # one-pass corner explode (round 6): the previous three-branch union
    # consumed the UN-persisted wedge-closure join three times (no
    # cross-branch CSE — the whole wedge self-join + semi-join executed
    # per branch); explode(array(a, b, c)) emits the identical rows in
    # one pass.
    member = (
        closed.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(member, "doc_id", "left")
        .select(
            "doc_id",
            F.col("deg").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(F.col("deg") < 2, F.lit(0))
            .otherwise(
                F.expr(
                    "(2 * coalesce(n_triangles, 0) * 1000)"
                    " DIV (deg * (deg - 1))"
                )
            )
            .cast("long")
            .alias("clustering_mille"),
        )
    )


def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .driver_queries import _docs

    return neardup_triangles(_docs(spark, sf_dir))


_TRIANGLES_SQL = f"""
WITH tr_pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_pairs_sql()})
  WHERE n_bands_agree >= {_MIN_BANDS_AGREE}
), deg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT doc_a AS doc_id FROM tr_pairs
    UNION ALL SELECT doc_b AS doc_id FROM tr_pairs
  ) GROUP BY doc_id
), closed AS (
  SELECT e1.a, e1.b, e2.c FROM
    (SELECT doc_a AS a, doc_b AS b FROM tr_pairs) e1
    JOIN (SELECT doc_a AS a, doc_b AS c FROM tr_pairs) e2 USING (a)
    WHERE e1.b < e2.c
      AND EXISTS (SELECT 1 FROM tr_pairs p
                  WHERE p.doc_a = e1.b AND p.doc_b = e2.c)
), member AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS doc_id FROM closed
    UNION ALL SELECT b AS doc_id FROM closed
    UNION ALL SELECT c AS doc_id FROM closed
  ) GROUP BY doc_id
)
SELECT d.doc_id,
       d.deg AS degree,
       CAST(COALESCE(m.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.deg < 2 THEN 0
                 ELSE (2 * COALESCE(m.n_triangles, 0) * 1000)
                      // (d.deg * (d.deg - 1)) END AS BIGINT)
         AS clustering_mille
FROM deg d LEFT JOIN member m USING (doc_id)
"""


# Demoted to the extra registry (round 5) to free a driver slot for
# lm_perplexity: the MinHash family stays driver-visible through
# dedup_minhash_bands (the signature surface) and ngram_jaccard_pairs
# (which consumes these candidates); the pair-listing variant is held to
# the same oracle bar by scripts/check_oracles.py + tests.
EXTRA_QUERIES_DEDUP = {
    "minhash_candidate_pairs": q_minhash_candidate_pairs,
    "semdedup_prune": q_semdedup,
    "neardup_pagerank": q_neardup_pagerank,
    "neardup_triangles": q_neardup_triangles,
    "lsh_calibration": q_lsh_calibration,
}
EXTRA_ORACLES_DEDUP = {
    "minhash_candidate_pairs": _minhash_pairs_sql(),
    "semdedup_prune": _semdedup_sql(),
    "neardup_pagerank": _pagerank_sql(),
    "neardup_triangles": _TRIANGLES_SQL,
    "lsh_calibration": _lsh_calibration_sql(),
}
