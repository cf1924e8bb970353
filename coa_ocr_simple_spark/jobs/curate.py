"""spark-submit entry point for corpus curation — the training-data
funnel as a runnable job:

    quality gate (language/stopword/length)
      -> exact dedup (md5 content hash, min-doc_id representative)
      -> near-dup removal (MinHash-LSH candidates, hot-bucket capped,
         exact n-gram Jaccard >= threshold drops the larger doc_id; or,
         with --cluster-reps, keeps one representative per connected
         component of the pair graph)
      -> optional Naive-Bayes quality-classifier gate (--nb-quality,
         trained on the survivors' own Gopher-labeled held-in slice)
      -> optional quality-weighted soft sampling (--quality-sample,
         keep-probability proportional to the classifier score)
      -> optional Gopher A1.1 document-filter gate (--gopher-filter)
      -> optional character-entropy gibberish gate (--entropy-filter)
      -> optional CCNet-style bigram-LM perplexity gate
         (--max-mille-bits)
      -> optional DSIR importance-weight selection (--dsir-select)
      -> optional ExactSubstr-style block-dup cut over the survivors
         (--max-dup-block-pct)
      -> optional water-filled source char-budget mixture
         (--char-budget-div)
      -> optional temperature language rebalancing (--lang-rebalance)
      -> optional C4 line/page payload rewrite (--c4-clean)
      -> optional CCNet corpus-level paragraph-dedup payload rewrite
         (--dedup-paragraphs)
      -> optional ExactSubstr span-cut payload rewrite (--cut-dup-spans)

Usage:
  python -m coa_ocr_simple_spark.jobs.curate \\
      --input /path/documents.parquet --output /path/curated \\
      [--report /path/report.parquet] [--jaccard-min 80]

The output is the curated subset of the input rows (full columns,
unchanged), written by doc_id semi-join — payload bytes move only once,
at the final write; every funnel decision flows through doc_id sets.
Prints one JSON line with the per-stage survivor counts (the same
numbers the oracle-checked `curation_funnel` query emits).

Counts come from the actions that already run, never from an extra
count(): the default funnel is three Spark SQL actions (the eager
input fill whose count is n_total, the MinHash bands fill, and the
output write), and the other stage counts are DataFrame.observe
metrics those actions report (operators/observed.py).  Each optional
doc-set stage adds one eager localCheckpoint that reports its count; a
run with any stage that reads the survivor set twice first cuts it with
one more.  Payload-rewrite stats are observed on the write (or on the
lineage cut that follows the rewrite).  --report adds the report write.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.observed import Observed
from ..plans.driver_queries_dedup import _FUNNEL_JACCARD_MIN, curation_stages
from ..sources.tables import TableIO
from . import _cli


# optional stages that read the survivor set on two branches
_TWO_BRANCH_STAGES = (
    "nb_quality", "quality_sample", "gopher_filter", "entropy_filter",
    "max_mille_bits", "drop_mixed_lang", "drop_ppl_tail", "dsir_select",
    "max_dup_block_pct", "char_budget_div", "lang_rebalance",
    "c4_clean", "dedup_paragraphs", "cut_dup_spans",
)


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    docs = io.read(args.input)

    stages = curation_stages(
        docs, jaccard_min=args.jaccard_min, cluster_reps=args.cluster_reps
    )
    summary = {
        "n_total": stages.n_total,
        "jaccard_min": args.jaccard_min,
        "near_dup_policy": "cluster_reps" if args.cluster_reps else "pair_loser",
    }
    # every other count is an observed metric, read after the write;
    # `live` names the count of the latest survivor set (n_curated)
    observed = list(stages.counts)
    live = "n_curated"

    def _observe(df, **metrics):
        obs = Observed(df, **metrics)
        observed.append(obs)
        return obs.df

    if any(
        getattr(args, k) is not None and getattr(args, k) is not False
        for k in _TWO_BRANCH_STAGES
    ):
        # the funnel's counts are observed inside its persisted sets, so
        # the action that fills them must read `final` on one branch:
        # this eager cut does, before a stage reads it on two
        final = stages.final.localCheckpoint()
    else:
        final = stages.final.persist()

    def _stage(prev, new_final, key):
        """Advance the survivor set past one optional stage with an
        EAGER lineage cut.  Every stage references the prior survivor
        set twice (the payload semi-join feeding the signal AND the
        survivor-set join), so chained stage plans compound 2^stages —
        measured: four enabled stages OOMed a 4 GiB driver before any
        task ran, just building the analyzed plan.  localCheckpoint
        materializes the (tiny, doc_id-only) set in executor storage
        like persist() but TRUNCATES the logical plan — the same cut
        connected_components uses per pointer-jumping round.  A run
        that must survive executor loss swaps in checkpoint(dir).
        The checkpoint job is also the one that reports the stage
        count, as an observed metric."""
        nonlocal live
        live = key
        out = _observe(new_final, **{key: F.count(F.lit(1))}).localCheckpoint()
        prev.unpersist()
        return out

    if args.nb_quality:
        # Model-based quality gate (the GPT-3/LLaMA classifier family):
        # a hashed-feature Naive-Bayes classifier is trained on the
        # survivors' own doc_id % 10 == 2 slice labeled by the Gopher
        # verdict, then scores every survivor.  Runs BEFORE the
        # --gopher-filter stage so the training labels still carry
        # both classes; if the slice labels are one-class the verdict
        # skews all-positive (graceful no-op, documented in --help).
        from ..plans.driver_queries_quality import (
            _NB_TRAIN_MOD,
            gopher_quality_signals,
            nb_classifier_verdicts,
        )

        surv_docs = docs.join(final, "doc_id", "left_semi")
        train = surv_docs.where(F.col("doc_id") % 10 == _NB_TRAIN_MOD)
        lab = gopher_quality_signals(train).select(
            "doc_id",
            (F.col("is_gopher_bad") == 0).cast("long").alias("is_pos"),
        )
        kept = (
            nb_classifier_verdicts(surv_docs, train, lab)
            .where(F.col("is_quality"))
            .select("doc_id")
        )
        final = _stage(
            final,
            final.join(kept, "doc_id", "left_semi"),
            "n_after_nb_quality",
        )

    if args.quality_sample:
        # Soft variant of the classifier gate (GPT-3/DCLM sampling
        # policy): instead of a hard threshold, each survivor is kept
        # with probability proportional to its classifier score
        # (deterministic md5 coin, quality_weighted_sample ramp).
        # Same trained model as --nb-quality; runs before
        # --gopher-filter for the same both-classes-in-labels reason.
        from ..plans.driver_queries_quality import (
            _NB_TRAIN_MOD,
            gopher_quality_signals,
            nb_classifier_verdicts,
            quality_weighted_sample,
        )

        surv_docs = docs.join(final, "doc_id", "left_semi")
        train = surv_docs.where(F.col("doc_id") % 10 == _NB_TRAIN_MOD)
        lab = gopher_quality_signals(train).select(
            "doc_id",
            (F.col("is_gopher_bad") == 0).cast("long").alias("is_pos"),
        )
        kept = (
            quality_weighted_sample(
                nb_classifier_verdicts(surv_docs, train, lab)
            )
            .where(F.col("is_kept"))
            .select("doc_id")
        )
        final = _stage(
            final,
            final.join(kept, "doc_id", "left_semi"),
            "n_after_quality_sample",
        )

    if args.gopher_filter:
        # Gopher Appendix-A1.1 document filters over the survivors
        # (mean word length, symbol ratio, bullet/ellipsis lines,
        # alpha-word fraction) — cheap per-doc heuristics, so they run
        # before the heavier LM/block stages.  doc_id-set plumbing.
        from ..plans.driver_queries_quality import gopher_quality_signals

        surv_docs = docs.join(final, "doc_id", "left_semi")
        bad = (
            gopher_quality_signals(surv_docs)
            .where(F.col("is_gopher_bad") == 1)
            .select("doc_id")
        )
        final = _stage(
            final, final.join(bad, "doc_id", "left_anti"), "n_after_gopher"
        )

    if args.entropy_filter:
        # character-entropy gibberish gate over the survivors: repeated-
        # char / tiny-alphabet spew passes the word-level Gopher checks
        # but collapses to < 2 coarse bits/char.  Same cheap-heuristic
        # tier as --gopher-filter; doc_id-set plumbing.
        from ..plans.driver_queries_quality import char_entropy_stats

        surv_docs = docs.join(final, "doc_id", "left_semi")
        low = (
            char_entropy_stats(surv_docs)
            .where(F.col("is_low_entropy"))
            .select("doc_id")
        )
        final = _stage(
            final, final.join(low, "doc_id", "left_anti"), "n_after_entropy"
        )

    if args.max_mille_bits is not None:
        # CCNet-style perplexity gate over the survivors: a bigram LM
        # trained on the survivors' own held-in slice scores every doc;
        # docs above the bits/bigram budget (or with no bigrams at all)
        # drop.  Same doc_id-set plumbing as every other stage.
        from ..plans.driver_queries_quality import lm_perplexity

        surv_docs = docs.join(final, "doc_id", "left_semi")
        ppl = lm_perplexity(surv_docs)
        kept = ppl.where(
            (F.col("n_bigrams") > 0)
            & (F.col("mille_bits") <= args.max_mille_bits)
        ).select("doc_id")
        final = _stage(
            final, final.join(kept, "doc_id", "left_semi"), "n_after_perplexity"
        )

    if args.drop_mixed_lang:
        # mixed-language documents (quoted sources, foreign boilerplate,
        # code-switching) poison monolingual training mixes and defeat
        # doc-level language routing — drop survivors whose paragraphs
        # decide on more than one language.
        from ..plans.driver_queries_ext import paragraph_lang_profile

        surv_docs = docs.join(final, "doc_id", "left_semi")
        kept = (
            paragraph_lang_profile(surv_docs)
            .where(F.col("is_mixed") == 0)
            .select("doc_id")
        )
        final = _stage(
            final,
            final.join(kept, "doc_id", "left_semi"),
            "n_after_mixed_lang",
        )

    if args.drop_ppl_tail:
        # CCNet's actual corpus split: tercile the survivors by LM
        # perplexity and drop the tail (head+middle ship).  Adaptive —
        # no fixed bits budget to tune, the thresholds are the
        # survivors' own order statistics (value-domain histogram,
        # constant-bounded window; see ccnet_ppl_buckets).
        from ..plans.driver_queries_quality import ccnet_ppl_buckets

        surv_docs = docs.join(final, "doc_id", "left_semi")
        kept = (
            ccnet_ppl_buckets(surv_docs)
            .where(F.col("ppl_bucket") < 2)
            .select("doc_id")
        )
        final = _stage(
            final, final.join(kept, "doc_id", "left_semi"), "n_after_ppl_tail"
        )

    if args.dsir_select:
        # DSIR importance selection over the survivors: hashed-n-gram
        # importance weights against the held-in target slice; keep only
        # docs whose weight is strictly above the survivor mean (the
        # deterministic stand-in for DSIR's top-k resample).
        from ..plans.driver_queries_quality import dsir_importance

        surv_docs = docs.join(final, "doc_id", "left_semi")
        kept = (
            dsir_importance(surv_docs)
            .where(F.col("is_selected"))
            .select("doc_id")
        )
        final = _stage(
            final, final.join(kept, "doc_id", "left_semi"), "n_after_dsir"
        )

    if args.max_dup_block_pct is not None:
        # ExactSubstr-style pass over the SURVIVORS (post-dedup, where it
        # belongs): drop docs whose droppable-block fraction exceeds the
        # cap.  Docs too short for a full block have nothing to cut and
        # pass.  Still doc_id-set plumbing — payload moves once, at the
        # final write.
        from ..plans.driver_queries_mix import block_dedup_stats

        surv_docs = docs.join(final, "doc_id", "left_semi")
        stats = block_dedup_stats(surv_docs)
        bad = stats.where(
            F.floor(F.col("n_drop_blocks") * 100 / F.col("n_blocks"))
            > args.max_dup_block_pct
        ).select("doc_id")
        final = _stage(
            final, final.join(bad, "doc_id", "left_anti"), "n_after_block_dedup"
        )

    if args.char_budget_div is not None:
        # water-filled source mixture over the survivors: ship a
        # 1/N fraction of the surviving char mass, allocated across
        # sources by water-filling (small sources whole, big ones
        # capped at a common level) — the budget-constrained
        # composition step of a corpus build.
        from ..plans.driver_queries_mix import token_budget_mixture

        surv_docs = docs.join(final, "doc_id", "left_semi")
        kept = (
            token_budget_mixture(
                surv_docs, budget_div=args.char_budget_div
            )
            .where(F.col("is_kept"))
            .select("doc_id")
        )
        final = _stage(
            final,
            final.join(kept, "doc_id", "left_semi"),
            "n_after_char_budget",
        )

    if args.lang_rebalance:
        # temperature (alpha=0.5) language rebalancing of the survivors —
        # the last stage, so the mixture is computed over what actually
        # ships
        from ..plans.driver_queries_mix import lang_mixture_sample

        surv_docs = docs.join(final, "doc_id", "left_semi")
        kept = lang_mixture_sample(surv_docs, alpha=args.lang_alpha).select(
            "doc_id"
        )
        final = _stage(
            final,
            final.join(kept, "doc_id", "left_semi"),
            "n_after_lang_rebalance",
        )

    curated = docs.join(final, "doc_id", "left_semi")

    n_rewrites = sum(
        [bool(args.c4_clean), bool(args.dedup_paragraphs),
         bool(args.cut_dup_spans)]
    )

    def _cut(df):
        """Lineage barrier between payload rewrites: each rewrite
        consumes `curated` on TWO branches (the signal frame and the
        join-back) with no cross-branch CSE, so k chained rewrites are
        2^k recompute + plan growth without a cut.  Only pays when a
        second rewrite follows — a single rewrite just double-scans the
        parquet, which is cheaper than materializing the payload."""
        return df.localCheckpoint() if n_rewrites >= 2 else df

    if args.c4_clean:
        curated = _cut(curated)
        # C4 line/page cleaning (Raffel et al. 2020 s2.2): payload
        # rewrite — survivors keep only terminal-punctuated >= 3-word
        # non-javascript lines; pages with < 5 kept lines, lorem ipsum,
        # or curly braces drop entirely.  n_chars tracks the new text.
        from ..plans.driver_queries_quality import c4_line_clean

        c4 = _observe(
            c4_line_clean(curated),
            n_c4_dropped_docs=F.sum(F.col("is_dropped").cast("long")),
        )
        curated = (
            curated.drop("text", "n_chars")
            .join(
                c4.where(~F.col("is_dropped")).select("doc_id", "text_clean"),
                "doc_id",
            )
            .withColumn("n_chars", F.length("text_clean").cast("long"))
            .withColumnRenamed("text_clean", "text")
            .select(*docs.columns)
        )

    if args.dedup_paragraphs:
        curated = _cut(curated)
        # CCNet-style corpus-level paragraph dedup (payload rewrite):
        # every non-canonical occurrence of a normalized paragraph
        # across the WHOLE survivor set is removed; docs reduced to
        # nothing (pure boilerplate) drop entirely.
        from ..plans.driver_queries_mix import paragraph_dedup

        pd = _observe(
            paragraph_dedup(curated),
            n_dup_paragraphs_cut=F.sum("n_dup_paragraphs"),
            n_paragraph_emptied_docs=F.sum(
                (F.col("clean_text") == "").cast("long")
            ),
        )
        curated = (
            curated.drop("text", "n_chars")
            .join(
                pd.where(F.col("clean_text") != "").select(
                    "doc_id", "clean_text"
                ),
                "doc_id",
            )
            .withColumn("n_chars", F.length("clean_text").cast("long"))
            .withColumnRenamed("clean_text", "text")
            .select(*docs.columns)
        )

    if args.cut_dup_spans:
        curated = _cut(curated)
        # ExactSubstr CUT pass (Lee et al. 2022): the only stage that
        # REWRITES payload — survivors' text loses every
        # corpus-duplicated >= w-token span (keep-first), fully-cut
        # docs drop, n_chars is refreshed to match the cleaned text.
        # Whitespace runs inside surviving text are normalized to
        # single spaces (the span family's tokenization contract).
        from ..plans.driver_queries_mix import exact_substr_cut

        cut = _observe(
            exact_substr_cut(curated, w=args.cut_span_w),
            n_tokens_cut=F.sum("n_cut"),
            n_fully_cut_docs=F.sum((F.col("n_kept") == 0).cast("long")),
        )
        curated = (
            curated.drop("text", "n_chars")
            .join(cut.where(F.col("n_kept") > 0), "doc_id")
            .withColumn("n_chars", F.length("text_clean").cast("long"))
            .withColumnRenamed("text_clean", "text")
            .select(*docs.columns)
        )

    if args.encoding_clean:
        # encoding scrub (before the PII scrub, which stays last): strip
        # mojibake digraphs, U+FFFD and C0 controls from the payload.
        # Stateless projection, no joins, no doc drops.
        from ..plans.driver_queries_corpus import (
            count_encoding_artifacts,
            scrub_encoding,
        )

        curated = _observe(
            curated,
            n_encoding_artifacts_scrubbed=F.sum(
                count_encoding_artifacts(F.col("text"))
            ),
        ).withColumn(
            "text", scrub_encoding(F.col("text"))
        ).withColumn("n_chars", F.length("text").cast("long"))

    if args.pii_scrub:
        # PII scrub (always the LAST rewrite: earlier rewrites must not
        # resurrect scrubbed spans).  A pure stateless projection — no
        # join, no doc drops, so no lineage cut is needed; the match
        # counter is an observed aggregate over the same JVM regexes.
        from ..plans.driver_queries_corpus import (
            _CC,
            _EMAIL,
            _IPV4,
            _PHONE,
            _SSN,
            scrub_pii,
        )

        n_matches = sum(
            F.sum(F.size(F.regexp_extract_all("text", F.lit(pat), 0)))
            for pat in (_CC, _SSN, _IPV4, _EMAIL, _PHONE)
        ).cast("long")
        curated = _observe(
            curated, n_pii_matches_scrubbed=n_matches
        ).withColumn(
            "text", scrub_pii(F.col("text"))
        ).withColumn("n_chars", F.length("text").cast("long"))

    io.append(curated, args.output)
    for obs in observed:
        summary.update(obs.values)
    summary["n_curated"] = n_live = summary[live]
    for dropped, after in (
        ("n_c4_dropped_docs", "n_after_c4"),
        ("n_paragraph_emptied_docs", "n_after_paragraph_dedup"),
        ("n_fully_cut_docs", "n_after_span_cut"),
    ):
        if dropped in summary:  # payload rewrites, in the order they ran
            n_live -= summary[dropped]
            summary[after] = n_live
    if args.report:
        report = spark.createDataFrame(
            [
                (stage, int(n))
                for stage, n in summary.items()
                if stage not in ("jaccard_min", "near_dup_policy")
            ],
            "stage string, n_docs long",
        )
        io.append(report, args.report)
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="training-corpus curation funnel")
    p.add_argument("--input", required=True, help="documents table/path")
    p.add_argument("--output", required=True, help="curated-documents table/path")
    p.add_argument("--report", default=None, help="stage-counts table/path")
    p.add_argument("--jaccard-min", type=int, default=_FUNNEL_JACCARD_MIN)
    p.add_argument(
        "--cluster-reps",
        action="store_true",
        help="keep ONE representative (min doc_id) per near-dup connected "
        "component instead of dropping doc_b of every pair — the "
        "group-level dedup policy (connected components over the "
        ">= threshold Jaccard pair graph)",
    )
    p.add_argument(
        "--nb-quality",
        action="store_true",
        help="model-based quality gate: train a hashed-feature "
        "Naive-Bayes classifier on the survivors' doc_id%%10==2 "
        "slice labeled by the Gopher verdict, keep docs the "
        "classifier scores above the train-calibrated threshold; "
        "runs before --gopher-filter (so training labels carry both "
        "classes); with one-class labels the stage keeps everything",
    )
    p.add_argument(
        "--quality-sample",
        action="store_true",
        help="soft variant of --nb-quality (GPT-3/DCLM sampling "
        "policy): keep each survivor with probability proportional "
        "to its classifier score (linear ramp 0 at -2000 "
        "mille-bits llr to 1 at 0, deterministic md5 coin) instead "
        "of a hard threshold",
    )
    p.add_argument(
        "--gopher-filter",
        action="store_true",
        help="drop survivor docs failing the Gopher A1.1 document "
        "filters (mean word length outside [3,10], symbol-to-word "
        "> 0.1, > 90%% bullet lines, > 30%% ellipsis lines, "
        "< 80%% alphabetic words)",
    )
    p.add_argument(
        "--entropy-filter",
        action="store_true",
        help="drop survivor docs below 2 coarse bits/char of character "
        "entropy (repeated-char / tiny-alphabet gibberish that the "
        "word-level Gopher filters pass)",
    )
    p.add_argument(
        "--max-mille-bits",
        type=int,
        default=None,
        help="CCNet-style perplexity stage: drop survivor docs whose "
        "bigram-LM average exceeds this many mille-bits/bigram "
        "(LM trained on the survivors' doc_id%%10==1 slice; 5000 "
        "is the lm_perplexity head-split default)",
    )
    p.add_argument(
        "--drop-mixed-lang",
        action="store_true",
        help="drop survivors whose paragraphs decide on more than one "
        "language (per-paragraph stopword vote; quoted-source / "
        "foreign-boilerplate docs)",
    )
    p.add_argument(
        "--drop-ppl-tail",
        action="store_true",
        help="CCNet tercile stage: bucket survivors by LM perplexity "
        "(value-domain histogram, adaptive thresholds) and drop the "
        "tail third; head+middle ship",
    )
    p.add_argument(
        "--dsir-select",
        action="store_true",
        help="DSIR stage: keep only survivor docs whose hashed-n-gram "
        "importance weight (vs the doc_id%%10==1 target slice) is "
        "strictly above the survivor mean",
    )
    p.add_argument(
        "--max-dup-block-pct",
        type=int,
        default=None,
        help="ExactSubstr-style stage: drop survivor docs whose "
        "duplicated-(20-token-)block fraction exceeds this percent "
        "(canonical first occurrences don't count against a doc)",
    )
    p.add_argument(
        "--c4-clean",
        action="store_true",
        help="C4-style payload rewrite on the shipped text: keep only "
        "terminal-punctuated >= 3-word non-javascript lines; drop "
        "pages with < 5 kept lines, 'lorem ipsum', or curly braces",
    )
    p.add_argument(
        "--dedup-paragraphs",
        action="store_true",
        help="CCNet-style payload rewrite: remove every non-canonical "
        "occurrence of a normalized paragraph across the survivor "
        "corpus (keep the lowest (doc_id, position) occurrence); "
        "docs reduced to nothing drop",
    )
    p.add_argument(
        "--cut-dup-spans",
        action="store_true",
        help="ExactSubstr CUT pass on the shipped text: remove every "
        "corpus-duplicated >= w-token span from survivor docs "
        "(keep-first; fully-cut docs drop; the one stage that "
        "rewrites payload, whitespace-normalized)",
    )
    p.add_argument(
        "--cut-span-w",
        type=int,
        default=50,
        help="window length (tokens) for --cut-dup-spans",
    )
    p.add_argument(
        "--char-budget-div",
        type=int,
        default=None,
        help="water-filled source-mixture stage: ship 1/N of the "
        "surviving char mass, allocated across sources by "
        "water-filling (small sources whole, big sources capped at "
        "a common level; deterministic md5 coin per doc)",
    )
    p.add_argument(
        "--lang-rebalance",
        action="store_true",
        help="final stage: temperature language mixture rebalancing of "
        "the survivors (keep-rate (n_min/n_lang)^(1-alpha), "
        "deterministic md5 predicate)",
    )
    p.add_argument(
        "--lang-alpha",
        type=float,
        default=0.5,
        choices=[0.5, 0.75],
        help="mixture temperature for --lang-rebalance (0.75 downsamples "
        "the head language more gently)",
    )
    p.add_argument(
        "--encoding-clean",
        action="store_true",
        help="payload rewrite: strip mojibake digraphs, U+FFFD "
        "replacement chars and stray C0 controls (runs before "
        "--pii-scrub, which stays the final rewrite)",
    )
    p.add_argument(
        "--pii-scrub",
        action="store_true",
        help="final payload rewrite: pattern-level redaction of "
        "email/phone/IPv4/SSN/credit-card candidates (recall-biased: "
        "over-redaction is the safe direction for a shipping corpus; "
        "pii_scan's validity counts quantify the bias)",
    )
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-curate", parse_args, run, argv)


if __name__ == "__main__":
    main()
