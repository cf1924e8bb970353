"""spark-submit entry point for corpus profiling — compute every
per-document quality attribute ONCE into a wide attributes table, the
tag-then-curate split production pipelines use (Dolma's taggers,
RedPajama-V2's quality_signals): expensive signal computation runs a
single time over the corpus, and any number of downstream curation
policies filter on the cheap attributes table instead of re-scanning
payload text.

Signals (all integer-exact, each also an oracle-checked query):
  lq_    language_quality     stopword-vote lang ID + quality gate
  rep_   repetition_stats     Gopher dup-line / top-bigram fractions
  gq_    gopher_quality_signals  full Gopher A1.1 document filters
  ng_    ngram_repetition_stats  Gopher n-gram repetition fractions
  c4_    c4_line_clean        C4 line/page stats (text_clean dropped —
                              attributes only, payload stays put)
  lm_    lm_perplexity        CCNet-style bigram-LM bits
  dsir_  dsir_importance      DSIR hashed n-gram importance weight
  nb_    self_trained_nb_verdicts  Naive-Bayes classifier llr + verdict
                              (trained on the corpus's own Gopher-
                              labeled doc_id%10 slice, as in curate)
  ent_   char_entropy_stats   character-entropy gibberish gate
  ppl_   ccnet_ppl_buckets    CCNet perplexity tercile (0/1/2 =
                              head/middle/tail; corpus-relative)
  enc_   encoding_artifact_stats  mojibake / U+FFFD / C0 counts
  nfc_   nfc_stats            NFC canonicalization delta (Arrow UDF)
  plang_ paragraph_lang_profile  per-paragraph language mixture

Usage:
  python -m coa_ocr_simple_spark.jobs.profile_corpus \\
      --input /path/documents.parquet --output /path/attributes \\
      [--signals lq,rep,gq,c4,lm,dsir,nb] [--report /path/rollup]

Scale shape: each signal is one scan + (at most) one map-side-
combinable agg keyed by doc_id; the wide table is assembled by
co-partitioned doc_id equi-joins (same key end to end, no payload
columns carried through the joins).  The source is NOT cached — at
10^12 docs a columnar re-scan per signal beats pinning the corpus.
"""

from __future__ import annotations

import argparse
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import TableIO
from . import _cli


def _signal_frames() -> dict[str, Callable[[DataFrame], DataFrame]]:
    from ..plans.driver_queries_corpus import encoding_artifact_stats, nfc_stats
    from ..plans.driver_queries_ext import language_quality, paragraph_lang_profile
    from ..plans.driver_queries_quality import (
        c4_line_clean,
        ccnet_ppl_buckets,
        char_entropy_stats,
        dsir_importance,
        gopher_quality_signals,
        lm_perplexity,
        ngram_repetition_stats,
        repetition_stats,
        self_trained_nb_verdicts,
    )

    return {
        "lq": language_quality,
        "rep": repetition_stats,
        "gq": gopher_quality_signals,
        "ng": ngram_repetition_stats,
        "c4": lambda d: c4_line_clean(d).drop("text_clean"),
        "lm": lm_perplexity,
        "dsir": dsir_importance,
        # self-trained classifier, the curate --nb-quality construction
        "nb": self_trained_nb_verdicts,
        "ent": char_entropy_stats,
        # corpus-relative tercile label (0=head, 1=middle, 2=tail);
        # mille_bits itself already rides the lm_ columns
        "ppl": lambda d: ccnet_ppl_buckets(d).drop("mille_bits"),
        "enc": lambda d: encoding_artifact_stats(d).drop("scrubbed_md5"),
        "nfc": lambda d: nfc_stats(d).drop("nfc_md5"),
        "plang": paragraph_lang_profile,
    }


# rollup rows: boolean attribute -> count of docs where it holds
_FLAG_COLUMNS = (
    "lq_is_quality",
    "rep_is_repetitive",
    "gq_is_gopher_bad",
    "ng_is_ngram_repetitive",
    "c4_is_dropped",
    "lm_is_fluent",
    "dsir_is_selected",
    "nb_is_quality",
    "ent_is_low_entropy",
    "enc_is_clean",
    "nfc_is_changed",
    "plang_is_mixed",
)


def profile_attributes(docs: DataFrame, signals: list[str]) -> DataFrame:
    """One wide (doc_id, doc_coin, <prefixed signal columns>) frame;
    every non-key column is prefixed with its signal tag so nothing
    collides (three signals legitimately emit an n_lines).

    ``doc_coin`` is the repo's deterministic md5 4-hex prefix of the
    doc id in [0, 65536) — the coin every sampling operator flips — so
    apply_policy predicates can express SOFT sampling over attributes,
    e.g. the quality_weighted_sample ramp:
    ``doc_coin * 2000 < (nb_mille_llr + 2000) * 65536``."""
    from ..plans.driver_queries_quality import _md5_prefix_val

    frames = _signal_frames()
    attrs = docs.select(
        "doc_id",
        _md5_prefix_val(F.col("doc_id")).cast("long").alias("doc_coin"),
    )
    for tag in signals:
        f = frames[tag](docs)
        renamed = f.select(
            "doc_id",
            *[F.col(c).alias(f"{tag}_{c}") for c in f.columns if c != "doc_id"],
        )
        attrs = attrs.join(renamed, "doc_id", "left")
    return attrs


def _cluster_attrs(spark: SparkSession, embeddings: str) -> DataFrame:
    """(doc_id, cluster_id, cluster_d2q): each document's trained
    k-means cluster and its de-scaled squared distance to the centroid
    — the topic handle apply_policy predicates select/balance on
    (vec_ids share the doc_id domain).  Same exact-integer machinery as
    the kmeans_clusters extra query."""
    from ..plans.ann_index import quantized
    from ..plans.driver_queries_ext import (
        _PQ_LLOYD_Q,
        _ivf_centroids_lloyd,
        _ivf_lloyd_assign,
    )

    emb = quantized(spark.read.parquet(embeddings)).persist()
    emb.count()
    cents = _ivf_centroids_lloyd(emb).persist()
    cents.count()
    q2 = _PQ_LLOYD_Q * _PQ_LLOYD_Q
    return _ivf_lloyd_assign(emb, cents).select(
        F.col("vec_id").alias("doc_id"),
        F.col("centroid_id").cast("long").alias("cluster_cluster_id"),
        F.expr(f"d2 DIV {q2}").cast("long").alias("cluster_d2q"),
    )


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    docs = io.read(args.input)
    signals = [s.strip() for s in args.signals.split(",") if s.strip()]
    want_cluster = "cluster" in signals
    if want_cluster:
        if not args.embeddings:
            raise ValueError("the cluster signal requires --embeddings")
        signals = [s for s in signals if s != "cluster"]
    unknown = set(signals) - set(_signal_frames())
    if unknown:
        raise ValueError(f"unknown signals: {sorted(unknown)}")

    attrs = profile_attributes(docs, signals)
    if want_cluster:
        attrs = attrs.join(
            _cluster_attrs(spark, args.embeddings), "doc_id", "left"
        )
        signals = signals + ["cluster"]
    io.overwrite(attrs, args.output)  # re-runnable control output

    # rollup over the MATERIALIZED table — one cheap agg on the written
    # parquet instead of re-executing the six-signal DAG
    written = io.read(args.output)
    flags = [c for c in _FLAG_COLUMNS if c in written.columns]
    rollup = written.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(F.col(c).cast("long")).alias(c) for c in flags],
    ).collect()[0]
    summary = {"n_docs": int(rollup["n_docs"]), "signals": signals}
    for c in flags:
        summary[f"n_{c}"] = int(rollup[c] or 0)

    if args.report:
        report = spark.createDataFrame(
            [(k, int(v)) for k, v in summary.items() if k != "signals"],
            "stage string, n_docs long",
        )
        io.overwrite(report, args.report)
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="corpus attribute profiling")
    p.add_argument("--input", required=True, help="documents table/path")
    p.add_argument("--output", required=True, help="attributes table/path")
    p.add_argument("--report", default=None, help="rollup-counts table/path")
    p.add_argument(
        "--embeddings",
        default=None,
        help="embeddings table/path; enables the `cluster` signal "
        "(trained-k-means cluster id + distance per document)",
    )
    p.add_argument(
        "--signals",
        default="lq,rep,gq,ng,c4,lm,dsir,nb,ent,ppl,enc,nfc,plang",
        help="comma list from {lq,rep,gq,ng,c4,lm,dsir,nb,ent,ppl,enc,"
        "nfc,plang} (default: all)",
    )
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-profile", parse_args, run, argv)


if __name__ == "__main__":
    main()
