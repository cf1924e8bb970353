"""Regenerate PLANS.md — physical-plan evidence for the scale checklist.

Usage: python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import make_session  # noqa: E402

HEADER = """# PLANS — physical-plan evidence (generated from .explain("formatted"))

Produced by scripts/dump_plans.py on sf0.001 inputs at local[8]; re-run to
regenerate. What to look for, per the scale checklist: pruned ReadSchema,
PushedFilters on scans, partial aggregation before exchanges, explicit
broadcast of small dimensions, exactly one wide shuffle in the extraction
pipeline, and Arrow-batched Python evaluation (ArrowEvalPython) as the only
Python boundary.

"""


def main() -> None:
    from coa_ocr_simple_spark.plans.driver_queries import (
        q_lineitem_pricing,
        q_top_customers,
    )
    from coa_ocr_simple_spark.plans.extract_plan import (
        ExtractOptions,
        build_extract_plan,
    )

    import __spark_entry__ as entrymod

    spark = make_session(8)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spans_df, media_df = entrymod._spansify(docs)

    sections = []

    def cap(title: str, df, note: str) -> None:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        plan = re.sub(r"file:[^\],]*", "<path>", plan)
        sections.append(f"## {title}\n\n{note}\n\n```\n{plan[:4200]}\n```\n")

    cap(
        "Fused extraction pipeline (default)",
        build_extract_plan(
            spans_df, media_df, options=ExtractOptions(spread_partitions=32, run_id="x")
        ),
        "Union of two branches: single-text/html-span docs take the narrow "
        "fast path (Scan -> Filter -> ArrowEvalPython, ZERO exchanges — most "
        "of a web corpus never shuffles); multi-span/media docs take one "
        "wide shuffle (groupBy doc_id) after the skew-spread exchange and "
        "the media join. decode+assemble+extract is a single "
        "ArrowEvalPython node per branch.",
    )
    cap(
        "lineitem_pricing (decimal-exact rollup)",
        q_lineitem_pricing(spark, "/root/testdata/sf0.001"),
        "Partial (map-side) HashAggregate before the exchange; filter pushed "
        "to the parquet scan (PushedFilters on l_shipdate); scan schema pruned "
        "to the 6 referenced columns.",
    )
    cap(
        "top_customers (broadcast join + top-k)",
        q_top_customers(spark, "/root/testdata/sf0.001"),
        "customer is broadcast (explicit hint); revenue pre-aggregated before "
        "the join; TakeOrderedAndProject for the top-k.",
    )

    from coa_ocr_simple_spark.plans.driver_queries_corpus import q_length_quantiles
    from coa_ocr_simple_spark.plans.driver_queries_dedup import (
        q_minhash_candidate_pairs,
    )
    from coa_ocr_simple_spark.plans.driver_queries_quality import q_sequence_packing

    cap(
        "length_quantiles (distributed exact rank — round 3)",
        q_length_quantiles(spark, "/root/testdata/sf0.001"),
        "Exact p50/p90/p99 with NO partition-less window: n_chars histogram "
        "-> bounded bucket-totals self-join for cross-bucket offsets -> "
        "within-bucket cumsum via a Window PARTITIONED by bucket. Every "
        "Window node carries a partition spec (guarded by "
        "tests/test_plan_shape.py).",
    )
    cap(
        "minhash_candidate_pairs (size-gated bucket self-join — round 3)",
        q_minhash_candidate_pairs(spark, "/root/testdata/sf0.001"),
        "Bands persisted (InMemoryTableScan feeds the size pass and both "
        "join sides); mega-buckets dropped by the LeftSemi BEFORE the pair "
        "equi-join; no CartesianProduct, no per-bucket id arrays.",
    )
    cap(
        "sequence_packing (hierarchical distributed prefix sum — round 3)",
        q_sequence_packing(spark, "/root/testdata/sf0.001"),
        "Running token offsets via log_4096(N) scan levels: partitioned-"
        "window cumsums per level, bounded top-level self-join, no global "
        "sort anywhere; bin_id/bin_offset are pure arithmetic on the "
        "offsets.",
    )

    from coa_ocr_simple_spark.plans.driver_queries_mix import (
        q_block_dedup_stats,
        q_lang_mixture_sample,
    )

    cap(
        "block_dedup_stats (ExactSubstr-style token-block dedup — round 4)",
        q_block_dedup_stats(spark, "/root/testdata/sf0.001"),
        "INDEX-array explode (not transform-then-explode: the optimizer's "
        "inferred size()>0 filter under a Generate inlines the tokenizing "
        "split into the HOF lambda — measured quadratic, 64k-token docs "
        "hung); the token array rides the Generate as a bound attribute and "
        "each block md5 is one O(W) slice after it — linear at any length, "
        "no persist barrier, same plan serves streaming.  Exploded "
        "occurrences persisted with an eager fill (two consumers: the "
        "firsts aggregate and the join-back); one shuffle on the block hash "
        "with map-side combine — 1 md5 per 20 tokens, ~1% of text bytes.",
    )
    cap(
        "lang_mixture_sample (temperature language rebalancing — round 4)",
        q_lang_mixture_sample(spark, "/root/testdata/sf0.001"),
        "Per-language counts broadcast back over the scan (BroadcastHashJoin "
        "+ one-row BroadcastNestedLoopJoin for n_min); the keep predicate is "
        "exact integer decimal math on the squared md5 prefix — zero "
        "windows, zero big-side shuffles, skew-immune by construction.",
    )

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(HEADER + "\n".join(sections))
    spark.stop()


if __name__ == "__main__":
    main()
