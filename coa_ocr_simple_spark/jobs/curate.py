"""spark-submit entry point for corpus curation — the training-data
funnel as a runnable job:

    quality gate (language/stopword/length)
      -> exact dedup (md5 content hash, min-doc_id representative)
      -> near-dup removal (MinHash-LSH candidates, hot-bucket capped,
         exact n-gram Jaccard >= threshold drops the larger doc_id; or,
         with --cluster-reps, keeps one representative per connected
         component of the pair graph)
      -> the optional doc-set stages, in DOC_SET_STAGES order
         (--nb-quality ... --lang-rebalance)
      -> the optional payload rewrites, in REWRITES order (--c4-clean,
         --dedup-paragraphs, --cut-dup-spans)
      -> optional encoding scrub (--encoding-clean), then PII scrub
         (--pii-scrub)

The two tables are the only statement of the stage order: each entry
holds the stage's flag, its count key and what it keeps, and the
lineage cuts, counts and report rows all follow from them.

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
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.checkpoint import release
from ..operators.observed import Observed
from ..plans.driver_queries_dedup import _FUNNEL_JACCARD_MIN, curation_stages
from ..plans.driver_queries_ext import paragraph_lang_profile
from ..plans.driver_queries_mix import (
    block_dedup_stats,
    exact_substr_cut,
    lang_mixture_sample,
    paragraph_dedup,
    token_budget_mixture,
)
from ..plans.driver_queries_quality import (
    c4_line_clean,
    ccnet_ppl_buckets,
    char_entropy_stats,
    dsir_importance,
    gopher_quality_signals,
    lm_perplexity,
    quality_weighted_sample,
    self_trained_nb_verdicts,
)
from ..sources.tables import TableIO
from . import _cli


class DocSetStage(NamedTuple):
    """An optional stage that narrows the survivor doc_id set: ``rows``
    maps the survivors' payload rows (and the job args) to the doc_ids
    ``how`` keeps (left_semi) or drops (left_anti); ``key`` names the
    count of the set that is left."""

    flag: str
    key: str
    how: str
    rows: Callable[[DataFrame, argparse.Namespace], DataFrame]


# the doc-set stages, in run order
DOC_SET_STAGES = (
    # model-based quality gate (the GPT-3/LLaMA classifier family): a
    # hashed-feature Naive-Bayes classifier trained on the survivors'
    # own Gopher-labelled slice scores every survivor.  Runs BEFORE
    # --gopher-filter so the training labels still carry both classes;
    # with one-class labels the verdicts skew all-positive (a graceful
    # no-op, documented in --help).
    DocSetStage(
        "nb_quality", "n_after_nb_quality", "left_semi",
        lambda s, a: self_trained_nb_verdicts(s).where(F.col("is_quality")),
    ),
    # soft variant of the classifier gate (GPT-3/DCLM sampling policy):
    # each survivor is kept with probability proportional to its score
    # (deterministic md5 coin, quality_weighted_sample ramp).  Same
    # model, before --gopher-filter for the same reason.
    DocSetStage(
        "quality_sample", "n_after_quality_sample", "left_semi",
        lambda s, a: quality_weighted_sample(self_trained_nb_verdicts(s))
        .where(F.col("is_kept")),
    ),
    # Gopher Appendix-A1.1 document filters (mean word length, symbol
    # ratio, bullet/ellipsis lines, alpha-word fraction): cheap per-doc
    # heuristics, so they run before the heavier LM/block stages
    DocSetStage(
        "gopher_filter", "n_after_gopher", "left_anti",
        lambda s, a: gopher_quality_signals(s).where(F.col("is_gopher_bad") == 1),
    ),
    # character-entropy gibberish gate: repeated-char / tiny-alphabet
    # spew passes the word-level Gopher checks but collapses to < 2
    # coarse bits/char.  Same cheap-heuristic tier as --gopher-filter.
    DocSetStage(
        "entropy_filter", "n_after_entropy", "left_anti",
        lambda s, a: char_entropy_stats(s).where(F.col("is_low_entropy")),
    ),
    # CCNet-style perplexity gate: a bigram LM trained on the
    # survivors' own held-in slice scores every doc; docs above the
    # bits/bigram budget (or with no bigrams at all) drop
    DocSetStage(
        "max_mille_bits", "n_after_perplexity", "left_semi",
        lambda s, a: lm_perplexity(s).where(
            (F.col("n_bigrams") > 0) & (F.col("mille_bits") <= a.max_mille_bits)
        ),
    ),
    # mixed-language documents (quoted sources, foreign boilerplate,
    # code-switching) poison monolingual training mixes and defeat
    # doc-level language routing: drop survivors whose paragraphs
    # decide on more than one language
    DocSetStage(
        "drop_mixed_lang", "n_after_mixed_lang", "left_semi",
        lambda s, a: paragraph_lang_profile(s).where(F.col("is_mixed") == 0),
    ),
    # CCNet's corpus split: tercile the survivors by LM perplexity and
    # drop the tail.  Adaptive: the thresholds are the survivors' own
    # order statistics (value-domain histogram, constant-bounded
    # window; see ccnet_ppl_buckets).
    DocSetStage(
        "drop_ppl_tail", "n_after_ppl_tail", "left_semi",
        lambda s, a: ccnet_ppl_buckets(s).where(F.col("ppl_bucket") < 2),
    ),
    # DSIR importance selection: hashed-n-gram importance weights
    # against the held-in target slice; keep docs whose weight is
    # strictly above the survivor mean (the deterministic stand-in for
    # DSIR's top-k resample)
    DocSetStage(
        "dsir_select", "n_after_dsir", "left_semi",
        lambda s, a: dsir_importance(s).where(F.col("is_selected")),
    ),
    # ExactSubstr-style pass over the SURVIVORS (post-dedup, where it
    # belongs): drop docs whose droppable-block fraction exceeds the
    # cap; docs too short for a full block have nothing to cut and pass
    DocSetStage(
        "max_dup_block_pct", "n_after_block_dedup", "left_anti",
        lambda s, a: block_dedup_stats(s).where(
            F.floor(F.col("n_drop_blocks") * 100 / F.col("n_blocks"))
            > a.max_dup_block_pct
        ),
    ),
    # water-filled source mixture: ship a 1/N fraction of the surviving
    # char mass, allocated across sources by water-filling (small
    # sources whole, big ones capped at a common level)
    DocSetStage(
        "char_budget_div", "n_after_char_budget", "left_semi",
        lambda s, a: token_budget_mixture(s, budget_div=a.char_budget_div)
        .where(F.col("is_kept")),
    ),
    # temperature language rebalancing: the last doc-set stage, so the
    # mixture is computed over what actually ships
    DocSetStage(
        "lang_rebalance", "n_after_lang_rebalance", "left_semi",
        lambda s, a: lang_mixture_sample(s, alpha=a.lang_alpha),
    ),
)


class Rewrite(NamedTuple):
    """An optional payload rewrite: ``rewrite`` maps the curated rows
    (and the job args) to a frame carrying the new text in ``text_col``;
    rows where ``keep()`` holds ship with it, the others drop, counted by
    the ``dropped`` metric of ``metrics()``.  ``key`` names the count of
    the docs left.  Columns are built lazily: F.col needs a session."""

    flag: str
    rewrite: Callable[[DataFrame, argparse.Namespace], DataFrame]
    text_col: str
    keep: Callable[[], Column]
    metrics: Callable[[], dict[str, Column]]
    dropped: str
    key: str


# the payload rewrites, in run order; each keeps n_chars in step with
# the new text
REWRITES = (
    # C4 line/page cleaning (Raffel et al. 2020 s2.2): survivors keep
    # only terminal-punctuated >= 3-word non-javascript lines; pages
    # with < 5 kept lines, lorem ipsum, or curly braces drop entirely
    Rewrite(
        "c4_clean",
        lambda c, a: c4_line_clean(c),
        "text_clean",
        lambda: ~F.col("is_dropped"),
        lambda: {"n_c4_dropped_docs": F.sum(F.col("is_dropped").cast("long"))},
        "n_c4_dropped_docs",
        "n_after_c4",
    ),
    # CCNet-style corpus-level paragraph dedup: every non-canonical
    # occurrence of a normalized paragraph across the WHOLE survivor set
    # is removed; docs reduced to nothing (pure boilerplate) drop
    Rewrite(
        "dedup_paragraphs",
        lambda c, a: paragraph_dedup(c),
        "clean_text",
        lambda: F.col("clean_text") != "",
        lambda: {
            "n_dup_paragraphs_cut": F.sum("n_dup_paragraphs"),
            "n_paragraph_emptied_docs": F.sum((F.col("clean_text") == "").cast("long")),
        },
        "n_paragraph_emptied_docs",
        "n_after_paragraph_dedup",
    ),
    # ExactSubstr CUT pass (Lee et al. 2022): survivors' text loses
    # every corpus-duplicated >= w-token span (keep-first), fully-cut
    # docs drop.  Whitespace runs inside surviving text are normalized
    # to single spaces (the span family's tokenization contract).
    Rewrite(
        "cut_dup_spans",
        lambda c, a: exact_substr_cut(c, w=a.cut_span_w),
        "text_clean",
        lambda: F.col("n_kept") > 0,
        lambda: {
            "n_tokens_cut": F.sum("n_cut"),
            "n_fully_cut_docs": F.sum((F.col("n_kept") == 0).cast("long")),
        },
        "n_fully_cut_docs",
        "n_after_span_cut",
    ),
)


def _on(args: argparse.Namespace, flag: str) -> bool:
    """A stage runs when its flag is set: ``--max-mille-bits 0`` too."""
    value = getattr(args, flag)
    return value is not None and value is not False


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
    # every other count is an observed metric, read after the write
    observed = list(stages.counts)

    def _observe(df, **metrics):
        obs = Observed(df, **metrics)
        observed.append(obs)
        return obs.df

    def _release(prev):
        # a count the last cut reported, or one AQE dropped and that is
        # re-counted over `prev`, is read while `prev` is still stored
        for obs in observed:
            obs.values
        release(prev)

    doc_sets = [s for s in DOC_SET_STAGES if _on(args, s.flag)]
    rewrites = [r for r in REWRITES if _on(args, r.flag)]
    if doc_sets or rewrites:
        # every doc-set stage and rewrite reads the survivor set on two
        # branches (the payload semi-join feeding its signal AND the
        # survivor-set join).  The funnel's counts are observed inside
        # its persisted sets, so the action that fills them must read
        # `final` on one branch: this eager cut does, before a stage
        # reads it on two.
        final = stages.final.localCheckpoint()
    else:
        final = stages.final.persist()

    for stage in doc_sets:
        # Advance the survivor set with an EAGER lineage cut: chained
        # two-branch stage plans compound 2^stages (measured: four
        # stages OOMed a 4 GiB driver before any task ran, just building
        # the analyzed plan).  localCheckpoint materializes the (tiny,
        # doc_id-only) set in executor storage like persist() but
        # TRUNCATES the logical plan, the cut connected_components uses
        # per pointer-jumping round; a run that must survive executor
        # loss swaps in checkpoint(dir).  The checkpoint job is also the
        # one that reports the stage count, as an observed metric.
        rows = stage.rows(docs.join(final, "doc_id", "left_semi"), args)
        prev = final
        final = _observe(
            final.join(rows.select("doc_id"), "doc_id", stage.how),
            **{stage.key: F.count(F.lit(1))},
        ).localCheckpoint()
        _release(prev)

    curated = cut = docs.join(final, "doc_id", "left_semi")

    for r in rewrites:
        if len(rewrites) >= 2:
            # lineage barrier: each rewrite consumes `curated` on TWO
            # branches (the signal frame and the join-back) with no
            # cross-branch CSE, so k chained rewrites are 2^k recompute
            # + plan growth without a cut.  A single rewrite just
            # double-scans the parquet, cheaper than materializing the
            # payload.
            curated = curated.localCheckpoint()
            _release(cut)
            cut = curated
        new = _observe(r.rewrite(curated, args), **r.metrics())
        curated = (
            curated.drop("text", "n_chars")
            .join(new.where(r.keep()).select("doc_id", r.text_col), "doc_id")
            .withColumn("n_chars", F.length(r.text_col).cast("long"))
            .withColumnRenamed(r.text_col, "text")
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
    if doc_sets or rewrites:
        release(final)
        release(cut)
    # n_curated is the count of the last survivor set
    live = doc_sets[-1].key if doc_sets else "n_curated"
    summary["n_curated"] = n_live = summary[live]
    for r in rewrites:  # in the order they ran
        n_live -= summary[r.dropped]
        summary[r.key] = n_live
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
