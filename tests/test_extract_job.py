"""jobs.extract.run: its observed count, its action budget and its paths.

``docs_written`` is an observed metric of the append, so a run costs one
SQL action, two with ``--checkpoint``; a resume first looks for what is
left (one more, which keeps a delta of at most one task's documents for
the extraction to read), writes nothing when that is 0 and extracts a
small delta in fewer tasks.  ``--output`` and ``--media`` are looked up where Spark reads and writes them: a URI (``file:/``,
``hdfs://``, ``s3a://``) on its own filesystem, a path with no scheme on
the session's default filesystem.  A resume must see the rows such an
output already holds, and such a media store must resolve.
"""

from __future__ import annotations

import json
import os
import random
import re

from types import SimpleNamespace

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from coa_ocr_simple_spark.fixtures.generate import SpanBuilder, template_coa, write_corpus
from coa_ocr_simple_spark.jobs import extract
from coa_ocr_simple_spark.jobs.extract import (
    DELTA_DOCS_PER_TASK,
    delta_tasks,
    docs_per_task,
    main,
    parse_args,
    run,
)
from coa_ocr_simple_spark.operators import observed
from coa_ocr_simple_spark.sources.tables import TableIO

N_DOCS = 40
PREFIX = "doc-00000024"  # the first 24 docs


def _corpus(tmp_path) -> tuple[str, str]:
    """Every fourth doc is a 2-page pdf in the media store, half of them
    scanned (decoded from the OCR pages)."""
    rng = random.Random(5)
    b = SpanBuilder()
    for i in range(N_DOCS):
        if i % 4 == 0:
            part = ("pdf", template_coa(rng), {"n_pages": 2, "scanned": i % 8 == 0})
        else:
            part = ("text", template_coa(rng), {})
        b.add(f"doc-{i:08d}", [part])
    docs, media = str(tmp_path / "docs.parquet"), str(tmp_path / "media.parquet")
    write_corpus(b, docs, media)
    return docs, media


def _extract(spark, docs, media, out, *flags) -> dict:
    return run(parse_args(["--input", docs, "--media", media, "--output", out, *flags]), spark)


def _prefix(spark, tmp_path, docs) -> str:
    path = str(tmp_path / "docs_prefix.parquet")
    spark.read.parquet(docs).where(F.col("doc_id") < PREFIX).write.parquet(path)
    return path


def test_main_prints_the_summary_as_json(spark, tmp_path, capsys):
    docs, media = _corpus(tmp_path)
    out = str(tmp_path / "out")
    main(["--input", docs, "--media", media, "--output", out, "--run-id", "cli"])
    assert json.loads(capsys.readouterr().out) == {"run_id": "cli", "docs_written": N_DOCS}


def test_all_done_resume_returns_zero(
    spark, tmp_path, job_and_action_counts, local_checkpoints
):
    """Resuming a finished output counts 0 documents to do and returns 0
    written.  It appends no empty file to the output or the checkpoint
    (each resume ran the whole plan and added one of each), costs one
    SQL action, the checkpoint of what is left, and frees that empty
    checkpoint's blocks."""
    docs, media = _corpus(tmp_path)
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    _extract(spark, docs, media, str(out), "--run-id", "r1", "--checkpoint", str(ckpt))
    listings = sorted(os.listdir(out)), sorted(os.listdir(ckpt))
    for _ in range(3):
        summary = {}
        _, n_actions = job_and_action_counts(
            lambda: summary.update(
                _extract(
                    spark, docs, media, str(out), "--run-id", "r2",
                    "--checkpoint", str(ckpt), "--resume",
                )
            )
        )
        assert summary == {"run_id": "r2", "docs_todo": 0, "docs_written": 0}
        assert n_actions == 1
        assert (sorted(os.listdir(out)), sorted(os.listdir(ckpt))) == listings
    made, stored = local_checkpoints()
    assert len(made) == 3 and stored == []
    n_docs = spark.read.parquet(str(ckpt)).agg(F.sum("n_docs")).first()[0]
    assert n_docs == spark.read.parquet(str(out)).count() == N_DOCS


def test_delta_tasks_boundaries():
    """One task per ``DELTA_DOCS_PER_TASK`` documents left, or per Arrow
    batch if that is smaller, while that is fewer tasks than the default
    parallelism; from there on the plan as built (None)."""
    batch, parallelism, d = 2048, 4, DELTA_DOCS_PER_TASK
    assert d < batch
    assert docs_per_task(batch) == docs_per_task(0) == d and docs_per_task(16) == 16
    assert delta_tasks(0, batch, parallelism) == 0
    assert delta_tasks(1, batch, parallelism) == 1
    assert delta_tasks(d, batch, parallelism) == 1
    assert delta_tasks(d + 1, batch, parallelism) == 2
    assert delta_tasks((parallelism - 1) * d, batch, parallelism) == parallelism - 1
    assert delta_tasks((parallelism - 1) * d + 1, batch, parallelism) is None
    assert delta_tasks(parallelism * batch, batch, parallelism) is None
    assert delta_tasks(10**9, batch, parallelism) is None
    # a batch smaller than DELTA_DOCS_PER_TASK sizes the tasks
    assert delta_tasks(16, 16, parallelism) == 1
    assert delta_tasks(17, 16, parallelism) == 2
    assert delta_tasks(parallelism * 16, 16, parallelism) is None
    # maxRecordsPerBatch <= 0: no batch limit
    assert delta_tasks(d, 0, parallelism) == 1
    assert delta_tasks(10**9, 0, parallelism) is None


def _scans_without_exchange(node) -> int:
    """File scans reachable from physical plan ``node`` without crossing
    an exchange, i.e. scans that would run inside ``node``'s tasks."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _scans_without_exchange(node.initialPlan())
    if name.endswith("ExchangeExec"):
        return 0
    children = node.children()
    return (name == "FileSourceScanExec") + sum(
        _scans_without_exchange(children.apply(i)) for i in range(children.size())
    )


def _find(node, name: str):
    """The first node of class ``name`` in physical plan ``node``, or None."""
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        node = node.initialPlan()
    if node.getClass().getSimpleName() == name:
        return node
    children = node.children()
    found = (_find(children.apply(i), name) for i in range(children.size()))
    return next((f for f in found if f is not None), None)


def test_small_delta_runs_in_fewer_tasks(spark, tmp_path, monkeypatch):
    """The same 16-doc resume at three Arrow batch sizes.  In one task's
    documents, the extraction reads the delta the first action kept and
    appends one file.  Below the sizing rule it is coalesced to ``k``
    tasks and appends ``k`` files; at ``parallelism × batch`` documents
    the plan is the one built, with no ``Coalesce``.  The coalesced tasks
    read the delta from the checkpoint or from a shuffle: no input or
    done-set scan runs inside them, so the scans keep one task per input
    split.  All sides write the same rows (their ``_partition_id``
    numbers their own UDF input partitions)."""
    docs, media = _corpus(tmp_path)
    prefix = _prefix(spark, tmp_path, docs)
    n_todo, parallelism = N_DOCS - 24, spark.sparkContext.defaultParallelism
    plans = []
    append = TableIO.append

    def _append(self, df, identifier):
        plans.append(df._jdf.queryExecution().executedPlan())
        append(self, df, identifier)

    monkeypatch.setattr(TableIO, "append", _append)

    def _resume(out, batch) -> set[str]:
        _extract(spark, prefix, media, out, "--run-id", "r1")
        before = set(os.listdir(out))
        plans.clear()
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        saved = spark.conf.get(conf)
        spark.conf.set(conf, str(batch))
        try:
            summary = _extract(spark, docs, media, out, "--run-id", "r2", "--resume")
        finally:
            spark.conf.set(conf, saved)
        assert summary["docs_todo"] == summary["docs_written"] == n_todo
        return {f for f in set(os.listdir(out)) - before if f.startswith("part-")}

    one, small, large = str(tmp_path / "one"), str(tmp_path / "small"), str(tmp_path / "large")
    assert len(_resume(one, n_todo)) == 1
    coalesce = _find(plans[0], "CoalesceExec")
    assert coalesce is not None and coalesce.numPartitions() == 1
    assert _scans_without_exchange(coalesce) == 0, coalesce.toString()
    k = 2
    assert delta_tasks(n_todo, n_todo // k, parallelism) == k
    assert len(_resume(small, n_todo // k)) == k
    coalesce = _find(plans[0], "CoalesceExec")
    assert coalesce is not None and coalesce.numPartitions() == k
    assert _scans_without_exchange(coalesce) == 0, coalesce.toString()
    assert delta_tasks(n_todo, n_todo // parallelism, parallelism) is None
    _resume(large, n_todo // parallelism)
    assert _find(plans[0], "CoalesceExec") is None

    def rows(path):
        df = spark.read.parquet(path).drop("_partition_id")
        return {r["doc_id"]: r for r in df.collect()}

    assert rows(one) == rows(small) == rows(large)


def test_a_delta_in_one_split_spreads_over_its_tasks(
    spark, tmp_path, monkeypatch, local_checkpoints
):
    """A 10-doc delta that is all of one of the input's four files, sized
    to ``k`` = 2 tasks of 5: the round-robin shuffle gives each task half
    of it, so the append writes two files of 5 rows.  Merging the input's
    partitions instead would leave the whole delta in one task.  The
    first action kept 6 of the 10 documents, one task's and one more,
    and freed them."""
    docs, media = _corpus(tmp_path)
    split = str(tmp_path / "docs_split.parquet")
    ids = F.substring("doc_id", 5, 8).cast("int")
    for lo in range(0, N_DOCS, 10):
        part = spark.read.parquet(docs).where((ids >= lo) & (ids < lo + 10))
        part.coalesce(1).write.mode("append").parquet(split)
    out = str(tmp_path / "out")
    prefix = spark.read.parquet(docs).where(ids < N_DOCS - 10)
    prefix.write.parquet(str(tmp_path / "done.parquet"))
    _extract(spark, str(tmp_path / "done.parquet"), media, out, "--run-id", "r1")
    before = set(os.listdir(out))
    kept, release = [], extract.release

    def _release(df):
        kept.append(df.count())
        release(df)

    monkeypatch.setattr(extract, "release", _release)
    batch, parallelism = 5, spark.sparkContext.defaultParallelism
    assert delta_tasks(10, batch, parallelism) == 2
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, str(batch))
    try:
        summary = _extract(spark, split, media, out, "--run-id", "r2", "--resume")
    finally:
        spark.conf.set(conf, saved)
    assert summary["docs_todo"] == summary["docs_written"] == 10
    new = sorted(f for f in set(os.listdir(out)) - before if f.startswith("part-"))
    counts = [spark.read.parquet(os.path.join(out, f)).count() for f in new]
    assert counts == [5, 5], counts
    made, stored = local_checkpoints()
    assert kept == [batch + 1] and len(made) == 1 and stored == []


def test_reused_run_id_counts_only_this_invocation(spark, tmp_path):
    docs, media = _corpus(tmp_path)
    out = str(tmp_path / "out")
    prefix = _prefix(spark, tmp_path, docs)
    assert _extract(spark, prefix, media, out, "--run-id", "r")["docs_written"] == 24
    summary = _extract(spark, docs, media, out, "--run-id", "r", "--resume")
    assert summary["docs_written"] == N_DOCS - 24


def test_extract_run_action_budget(spark, tmp_path, job_and_action_counts):
    """A ``--resume --checkpoint`` run is three SQL actions (the eager
    checkpoint of what is left, the append, the checkpoint metrics); a
    run without ``--checkpoint`` or ``--resume`` is one.  Measured on
    this corpus, the resume run is 6 Spark jobs and 3 actions.  It was 12
    jobs and 3 actions when it counted its delta (3 jobs), anti-joined
    the input again in the plan and shuffled a small delta (1 job), and
    read the input and the media with inferred schemas (1 job each); 8
    jobs and 2 actions before it counted its delta, and 11 jobs and 2
    actions before that, when the done set was read with an inferred
    schema and deduplicated (its own shuffle map stage) and the
    checkpoint re-read the output with an inferred schema."""
    docs, media = _corpus(tmp_path)
    out = str(tmp_path / "out")
    _, n_actions = job_and_action_counts(
        lambda: _extract(spark, _prefix(spark, tmp_path, docs), media, out, "--run-id", "r1")
    )
    assert n_actions == 2  # the prefix write and the append
    flags = ["--run-id", "r2", "--resume", "--checkpoint", str(tmp_path / "ckpt")]
    summary = {}
    n_jobs, n_actions = job_and_action_counts(
        lambda: summary.update(_extract(spark, docs, media, out, *flags))
    )
    assert (n_jobs, n_actions) == (6, 3)
    assert summary["docs_todo"] == summary["docs_written"] == N_DOCS - 24
    ckpt = spark.read.parquet(str(tmp_path / "ckpt"))
    assert ckpt.agg(F.sum("n_docs")).first()[0] == N_DOCS - 24


def _file_scans(node) -> set[str]:
    """Root paths of the file scans in physical plan ``node``."""
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        node = node.initialPlan()
    found = set()
    if node.getClass().getSimpleName() == "FileSourceScanExec":
        roots = node.relation().location().rootPaths()
        found = {roots.apply(i).toUri().getPath() for i in range(roots.size())}
    children = node.children()
    return found.union(*(_file_scans(children.apply(i)) for i in range(children.size())))


def test_resume_scans_input_and_done_set_once(
    spark, tmp_path, monkeypatch, local_checkpoints, sql_executions
):
    """A ``--resume --checkpoint`` run scans the input and the done set
    in one SQL execution, the checkpoint of the delta; the append reads
    the delta from that checkpoint and scans neither of them again.  The
    run frees the checkpoint's blocks, and a fresh run makes none."""
    docs, media = _corpus(tmp_path)
    out = str(tmp_path / "out")
    _extract(spark, _prefix(spark, tmp_path, docs), media, out, "--run-id", "r1")
    assert local_checkpoints() == ([], [])
    plans = []
    append = TableIO.append

    def _append(self, df, identifier):
        append(self, df, identifier)
        plans.append(df._jdf.queryExecution().executedPlan())

    monkeypatch.setattr(TableIO, "append", _append)
    flags = ["--run-id", "r2", "--resume", "--checkpoint", str(tmp_path / "ckpt")]
    summary = {}
    runs = sql_executions(lambda: summary.update(_extract(spark, docs, media, out, *flags)))
    assert len(runs) == 3
    scans = [
        {
            path.split("file:", 1)[-1]
            for located in re.findall(r"Location: \w+ \[([^\]]*)\]", run.physicalPlanDescription())
            for path in located.split(", ")
        }
        for run in runs
    ]
    assert sum(docs in s for s in scans) == 1, scans
    assert sum(out in s for s in scans) == 1, scans
    assert [s for s in scans if docs in s] == [s for s in scans if out in s]
    assert summary["docs_todo"] == summary["docs_written"] == N_DOCS - 24
    assert not _file_scans(plans[0]) & {docs, out}
    assert media in _file_scans(plans[0])
    made, stored = local_checkpoints()
    assert len(made) == 1 and stored == []


def test_checkpoint_counts_only_this_invocation(spark, tmp_path):
    """Two runs under the default run id: the checkpoint counts each
    appended row once (re-reading every row under the run id counted the
    first run's 24 docs again, 64 for 40 rows), one file per run."""
    docs, media = _corpus(tmp_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _extract(spark, _prefix(spark, tmp_path, docs), media, out, "--checkpoint", ckpt)
    _extract(spark, docs, media, out, "--checkpoint", ckpt, "--resume")
    assert spark.read.parquet(out).count() == N_DOCS
    metrics = spark.read.parquet(ckpt)
    assert metrics.agg(F.sum("n_docs")).first()[0] == N_DOCS
    assert metrics.select(F.input_file_name()).distinct().count() == 2


def test_uri_output_resume_writes_every_doc_once(spark, tmp_path):
    docs, media = _corpus(tmp_path)
    out = f"file://{tmp_path}/out"
    _extract(spark, _prefix(spark, tmp_path, docs), media, out, "--run-id", "r1")
    summary = _extract(spark, docs, media, out, "--run-id", "r2", "--resume")
    assert summary["docs_written"] == N_DOCS - 24
    final = spark.read.parquet(out)
    assert final.count() == final.select("doc_id").distinct().count() == N_DOCS


def test_uri_media_decodes_pdf_spans(spark, tmp_path):
    docs, media = _corpus(tmp_path)
    by_path, by_uri = str(tmp_path / "by_path"), str(tmp_path / "by_uri")
    _extract(spark, docs, media, by_path, "--include-full-text")
    _extract(spark, docs, f"file://{media}", by_uri, "--include-full-text")

    def rows(path):
        return {r["doc_id"]: r for r in spark.read.parquet(path).drop("_partition_id").collect()}

    want, got = rows(by_path), rows(by_uri)
    assert got == want
    pdf_ids = [f"doc-{i:08d}" for i in range(0, N_DOCS, 4)]
    assert all(len(want[d]["full_text"]) > 100 for d in pdf_ids)


def test_scheme_less_output_resolves_where_spark_writes(spark, tmp_path, monkeypatch):
    """A relative ``--output`` lands under the Hadoop filesystem's working
    directory, not the Python process's cwd; a resume must find it there
    (``os.path`` read it as absent and appended every doc again)."""
    docs, media = _corpus(tmp_path)
    monkeypatch.chdir(tmp_path / "..")
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(spark._jsc.hadoopConfiguration())
    cwd = fs.getWorkingDirectory()
    fs.setWorkingDirectory(jvm.org.apache.hadoop.fs.Path(str(tmp_path)))
    try:
        _extract(spark, _prefix(spark, tmp_path, docs), media, "rel/out", "--run-id", "r1")
        summary = _extract(spark, docs, media, "rel/out", "--run-id", "r2", "--resume")
    finally:
        fs.setWorkingDirectory(cwd)
    assert summary["docs_written"] == N_DOCS - 24
    final = spark.read.parquet(str(tmp_path / "rel" / "out"))
    assert final.count() == final.select("doc_id").distinct().count() == N_DOCS


def test_observed_waits_out_a_slow_listener_bus(spark, monkeypatch):
    """A listener bus still busy when ``waitUntilEmpty`` times out is
    waited on again: the metrics arrive once it drains.  Taking the
    timeout for missing metrics would re-run the frame (for
    ``jobs.extract`` the whole UDF-bearing append)."""
    obs = observed.Observed.rows(spark.range(7), "n")
    obs.df.collect()
    waits = []

    class Bus:
        def waitUntilEmpty(self):
            waits.append(1)
            if len(waits) == 1:
                busy = spark._jvm.java.util.concurrent.TimeoutException("bus busy")
                raise Py4JJavaError("bus busy", busy)

    class Future:  # the metrics land only when the bus has drained
        def isCompleted(self):
            return len(waits) > 1 and real.future().isCompleted()

    real = obs._obs._jo
    obs._obs._jo = SimpleNamespace(future=Future, getRow=real.getRow)
    ctx = SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: SimpleNamespace(listenerBus=Bus)))
    monkeypatch.setattr(observed, "SparkContext", SimpleNamespace(_active_spark_context=ctx))
    obs.df = None  # the recompute fallback would fail on it
    assert obs.values == {"n": 7}
    assert len(waits) == 2
