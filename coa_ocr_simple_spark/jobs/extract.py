"""spark-submit entry point for the extraction pipeline.

Usage (cluster):
  spark-submit --py-files dist/coa_ocr_simple_spark.zip \\
      -m coa_ocr_simple_spark.jobs.extract \\
      --input db.documents --media db.media --output db.extracted \\
      --checkpoint db.checkpoint --config model_config.json \\
      --run-id run-2026-08-16 --resume

Sandbox (paths instead of catalog identifiers):
  python -m coa_ocr_simple_spark.jobs.extract --input /tmp/docs.parquet ...

Scale knobs map 1:1 to SURVEY.md §4.2: --spread-partitions (skew spread of
exploded spans), --broadcast-media (force broadcast of the media store),
AQE on by default (skew-join splitting; post-shuffle coalescing off, see
``coa_ocr_simple_spark.session``).

SQL actions: the append, plus the checkpoint metrics with --checkpoint.
A --resume over an existing output first looks for the documents left
(one more action, an eager ``localCheckpoint`` that scans the input and
the done set once and keeps at most one task's documents): an empty
delta writes nothing, a delta that fits one task is extracted from what
that action kept, and a larger one is counted (one more action) and,
while it is small, shuffled into fewer tasks than
``defaultParallelism`` (``delta_tasks``).
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core.config import EMPTY_CONFIG, ModelConfig
from ..functions.schemas import DOCUMENTS, MEDIA
from ..operators.checkpoint import LINEAGE_RUN, partition_metrics, release, resume_filter
from ..operators.observed import Observed
from ..plans.extract_plan import TENANT, ExtractOptions, build_extract_plan
from ..session import make_session  # noqa: F401  (perfbench imports it from here)
from ..sources.tables import TableIO
from . import _cli


def tenant_config_path(config_dir: str, tenant: str) -> str:
    """Reference naming convention: {tenant_id}_model_state.pkl
    (app.py:261-301) -> the frozen-JSON equivalent."""
    return os.path.join(config_dir, f"{tenant}_model_config.json")


def load_tenant_configs(
    config_dir: str,
    tenants: list[str],
    default: ModelConfig = EMPTY_CONFIG,
) -> dict[str, ModelConfig]:
    """Missing file -> ``default``, mirroring the reference's fresh
    default processor for an unseen tenant — but never SILENTLY (round-2
    advice): a typo'd tenant id or wrong --config-dir must not quietly
    degrade a 10^12-doc run to empty-config extraction, so each missing
    file is named on stderr (the reference at least logs 'No saved model
    state found', app.py:272-276), and an explicitly passed --config
    survives as the fallback instead of being discarded."""
    import sys

    out = {}
    for tenant in tenants:
        path = tenant_config_path(config_dir, tenant)
        if os.path.exists(path):
            out[tenant] = ModelConfig.load(path)
        else:
            print(
                f"warning: no config for tenant {tenant!r} at {path}; "
                + (
                    "falling back to the --config model"
                    if default is not EMPTY_CONFIG
                    else "falling back to the empty default config"
                ),
                file=sys.stderr,
            )
            out[tenant] = default
    return out


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    """Extract ``args.input`` and append the results to ``args.output``.

    ``docs_written`` is the number of rows this invocation appended, an
    observed metric of the append itself, and the ``--checkpoint``
    metrics cover the same rows: the files this append added, read back,
    so a ``--run-id`` reused across invocations counts each invocation
    once (a catalog output reads back every row under the run id, see
    ``TableIO.appended``).  One SQL action without ``--checkpoint`` (the
    append), two with it (the append, then the metrics).

    A ``--resume`` over an existing output first anti-joins the input
    against the done set in one more SQL action, an eager
    ``localCheckpoint`` of the first ``docs_per_task`` + 1 documents left
    (their ``doc_id`` and ``spans``, and the tenant) that counts the
    rows it reads as ``docs_todo``.  With none left it writes nothing
    and returns.  A delta of at most ``docs_per_task`` documents is all
    in that checkpoint: the plan reads it in one task, so the append
    scans neither the input nor the done set, and its blocks are
    released after the append.  A larger delta is counted (one more SQL
    action, doc_ids only) and the plan anti-joins the input itself, so
    what a resume stores stays one task's input, whatever the delta.
    While it fits in fewer tasks than ``defaultParallelism``
    (``delta_tasks``) it is repartitioned to that many after the
    anti-join and the results are coalesced to it, so the UDF starts
    that many Python workers and the append writes that many files,
    while the scans keep their tasks.

    With ``--tenants`` and a ``--tenant-column`` in the input, each
    document extracts under its tenant's config (an unknown or null
    tenant under the default) and every result row carries the tenant in
    ``_tenant_id``."""
    io = TableIO(spark)
    tenants = [t.strip() for t in (args.tenants or "").split(",") if t.strip()]
    # the declared schemas need no inference job (for a JSON input, no
    # extra scan); --tenants reads the input's own columns, because
    # whether it holds the tenant column decides the plan
    docs = io.read(args.input, None if tenants else DOCUMENTS)
    media = io.read_if_exists(args.media, MEDIA) if args.media else None
    config = ModelConfig.load(args.config) if args.config else EMPTY_CONFIG

    tenant_configs = {}
    if tenants and args.tenant_column in docs.columns:
        docs = docs.withColumnRenamed(args.tenant_column, TENANT)
        tenant_configs = load_tenant_configs(args.config_dir or ".", tenants, default=config)
    elif len(tenants) > 1:
        raise SystemExit(
            f"--tenants given but input has no '{args.tenant_column}' column "
            "(use --tenant-column, or a single tenant to apply one config "
            "to the whole input)"
        )
    elif tenants:
        # single-tenant invocation (the reference's one-request-one-tenant
        # shape): that tenant's config applies to the whole input; an
        # explicit --config is the fallback when the tenant file is absent
        config = load_tenant_configs(args.config_dir or ".", tenants, default=config)[
            tenants[0]
        ]

    options = ExtractOptions(
        config=config,
        tenant_configs=tenant_configs,
        spread_partitions=args.spread_partitions,
        broadcast_media=args.broadcast_media or None,
        include_full_text=args.include_full_text,
        run_id=args.run_id,
    )
    resume = args.resume and io.exists(args.output)
    done = io.read(args.output, "doc_id string") if resume else None
    todo, tasks, kept = {}, None, None
    if done is not None:
        batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        one_task = docs_per_task(batch)
        # the first action keeps at most one task's documents left: all
        # of a delta that small, which the plan then reads instead of
        # the input.  docs_todo counts what the limit read: the whole
        # delta when it is that small, more than one task's when not
        columns = ["doc_id", "spans", *([TENANT] if tenant_configs else [])]
        found = Observed.rows(resume_filter(docs.select(*columns), done), "docs_todo")
        kept = found.df.limit(one_task + 1).localCheckpoint()
        todo = found.values
        if todo["docs_todo"] == 0:
            release(kept)
            return {"run_id": args.run_id, **todo, "docs_written": 0}
        if todo["docs_todo"] <= one_task:
            # one partition, declared: the plan adds no shuffle of its own
            docs, done, tasks = kept.coalesce(1), None, 1
        else:
            todo["docs_todo"] = resume_filter(docs.select("doc_id"), done).count()
            tasks = delta_tasks(todo["docs_todo"], batch, spark.sparkContext.defaultParallelism)
    if tasks and done is not None:
        # the shuffle ends the scan's stage: the scan and the anti-join
        # keep their parallelism, and only the delta's rows move
        docs, done = resume_filter(docs, done).repartition(tasks), None

    results = build_extract_plan(docs, media, options=options, done=done)
    if tasks:
        # merges the wide branch's post-shuffle partitions too
        results = results.coalesce(tasks)

    if args.output_buckets:
        # file-count / layout control for the sink: hash-bucket by doc_id so
        # a resume anti-join and downstream per-doc lookups stay pruned.
        # (With an Iceberg catalog the table's own bucket(doc_id) partition
        # spec replaces this explicit repartition.)
        results = results.repartition(args.output_buckets, "doc_id")

    appended = Observed.rows(results, "docs_written")
    if args.checkpoint:
        written = io.appended(appended.df, args.output)
        # a catalog output reads back whole: keep this run id's rows
        metrics = partition_metrics(written.where(F.col(LINEAGE_RUN) == args.run_id))
        io.append(metrics.coalesce(1), args.checkpoint)
    else:
        io.append(appended.df, args.output)
    if kept is not None:
        release(kept)

    return {"run_id": args.run_id, **todo, **appended.values}


# Docs one task of a resume extracts before a spread over every core is
# faster.  Cold resumes of a media_mix delta on a 4-core host, median of
# 3 (s, one task / plan as built): 256 docs 9.6/9.6, 512 docs 9.6/10.3,
# 1024 docs 12.1/10.4; one task extracts ~200 docs/s.
DELTA_DOCS_PER_TASK = 512


def docs_per_task(batch: int) -> int:
    """The documents one task of a resume extracts: ``DELTA_DOCS_PER_TASK``,
    or the Arrow ``batch`` (``maxRecordsPerBatch``; ≤ 0 means no limit)
    if that is smaller."""
    return min(batch, DELTA_DOCS_PER_TASK) if batch > 0 else DELTA_DOCS_PER_TASK


def delta_tasks(n_todo: int, batch: int, parallelism: int) -> int | None:
    """How many tasks extract a resume's ``n_todo`` documents: one per
    ``docs_per_task(batch)``, while that is fewer than ``parallelism``;
    else None, the plan as built.  0: nothing to extract.

    A task holding less than that still costs a whole Python worker
    (~120 MB resident, plus its start-up CPU) and an output file; a task
    holding more runs longer than the spread plan would."""
    n_tasks = -(-n_todo // docs_per_task(batch))
    return n_tasks if n_tasks < parallelism else None


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="COA span-extraction pipeline")
    p.add_argument("--input", required=True, help="documents table/path")
    p.add_argument("--media", default=None, help="media store table/path")
    p.add_argument("--output", required=True, help="extracted table/path")
    p.add_argument("--checkpoint", default=None, help="checkpoint metrics table/path")
    p.add_argument("--config", default=None, help="frozen model_config.json")
    p.add_argument(
        "--tenants",
        default=None,
        help="comma-separated tenant ids; each resolves "
        "{config-dir}/{tenant}_model_config.json (missing -> default config)",
    )
    p.add_argument("--config-dir", default=None, help="directory of per-tenant configs")
    p.add_argument("--tenant-column", default="tenant_id")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--resume", action="store_true", help="anti-join completed doc_ids")
    p.add_argument("--spread-partitions", type=int, default=None)
    p.add_argument("--output-buckets", type=int, default=None)
    p.add_argument("--broadcast-media", action="store_true")
    p.add_argument("--include-full-text", action="store_true")
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-extract", parse_args, run, argv)


if __name__ == "__main__":
    main()
