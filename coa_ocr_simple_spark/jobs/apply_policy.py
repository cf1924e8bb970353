"""spark-submit entry point for policy application — the second half
of the tag-then-curate split (profile_corpus is the first): filter the
corpus on a SQL predicate over the precomputed ATTRIBUTES table, never
re-touching payload text.

    python -m coa_ocr_simple_spark.jobs.apply_policy \\
        --input /path/documents.parquet \\
        --attributes /path/attributes \\
        --where "NOT gq_is_gopher_bad AND lm_mille_bits <= 5000" \\
        --output /path/curated [--report /path/report]

This is how production pipelines iterate on curation policy (Dolma's
taggers -> mixer, RedPajama-V2's quality_signals): the expensive
signals were computed ONCE by profile_corpus; each candidate policy is
then one cheap scan of the attributes table plus one doc_id semi-join
to materialize the surviving payload.  Changing the policy re-runs in
attribute-scan time, not signal-recompute time.

Scale shape: the predicate evaluates on the (narrow) attributes table;
the only payload movement is the final semi-join + write.  Both outputs
use overwrite semantics — re-running a policy replaces its corpus.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.observed import Observed
from ..sources.tables import TableIO
from . import _cli


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    # the counts are observed on the write: no count() job of their own
    attrs = Observed.rows(io.read(args.attributes), "n_attributes_rows")
    docs = Observed.rows(io.read(args.input), "n_docs")
    kept = attrs.df.where(F.expr(args.where)).select("doc_id")
    curated = Observed.rows(docs.df.join(kept, "doc_id", "left_semi"), "n_kept")
    io.overwrite(curated.df, args.output)

    summary = {**attrs.values, **docs.values, **curated.values, "policy": args.where}
    if args.report:
        report = spark.createDataFrame(
            [(k, int(v)) for k, v in summary.items() if k != "policy"],
            "stage string, n_docs long",
        )
        io.overwrite(report, args.report)
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="apply a curation policy over a profiled attributes table"
    )
    p.add_argument("--input", required=True, help="documents table/path")
    p.add_argument(
        "--attributes",
        required=True,
        help="attributes table/path (profile_corpus output)",
    )
    p.add_argument(
        "--where",
        required=True,
        help="SQL predicate over the attribute columns; surviving "
        "doc_ids select the output corpus",
    )
    p.add_argument("--output", required=True, help="curated table/path")
    p.add_argument("--report", default=None, help="counts table/path")
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-apply-policy", parse_args, run, argv)


if __name__ == "__main__":
    main()
