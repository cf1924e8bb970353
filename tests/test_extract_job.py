"""jobs.extract.run: its observed count, its action budget and its paths.

``docs_written`` is an observed metric of the append, so a run costs one
SQL action, two with ``--checkpoint``.  ``--output`` and ``--media`` are
looked up where Spark reads and writes them: a URI (``file:/``,
``hdfs://``, ``s3a://``) on its own filesystem, a path with no scheme on
the session's default filesystem.  A resume must see the rows such an
output already holds, and such a media store must resolve.
"""

from __future__ import annotations

import json
import random
import threading

from types import SimpleNamespace

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from coa_ocr_simple_spark.fixtures.generate import SpanBuilder, template_coa, write_corpus
from coa_ocr_simple_spark.jobs.extract import main, parse_args, run
from coa_ocr_simple_spark.operators import observed

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


def test_all_done_resume_returns_zero(spark, tmp_path):
    """A resume with nothing left to extract: AQE prunes the observed
    append to an empty relation, yet the run returns 0 without hanging."""
    docs, media = _corpus(tmp_path)
    out = str(tmp_path / "out")
    assert _extract(spark, docs, media, out, "--run-id", "r1")["docs_written"] == N_DOCS
    result = {}

    def _resume():
        result["summary"] = _extract(spark, docs, media, out, "--run-id", "r2", "--resume")

    t = threading.Thread(target=_resume, daemon=True)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive(), "extract run hung reading docs_written"
    assert result["summary"] == {"run_id": "r2", "docs_written": 0}
    assert spark.read.parquet(out).count() == N_DOCS


def test_reused_run_id_counts_only_this_invocation(spark, tmp_path):
    docs, media = _corpus(tmp_path)
    out = str(tmp_path / "out")
    prefix = _prefix(spark, tmp_path, docs)
    assert _extract(spark, prefix, media, out, "--run-id", "r")["docs_written"] == 24
    summary = _extract(spark, docs, media, out, "--run-id", "r", "--resume")
    assert summary["docs_written"] == N_DOCS - 24


def test_extract_run_action_budget(spark, tmp_path, job_and_action_counts):
    """A ``--resume --checkpoint`` run is two SQL actions (the append, the
    checkpoint metrics); a run without ``--checkpoint`` is one.  The count
    read back through ``written.count()`` cost a third action.  The resume
    run is 8 Spark jobs; it was 11 when the done set was read with an
    inferred schema and deduplicated (its own shuffle map stage), and the
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
    assert (n_jobs, n_actions) == (8, 2)
    assert summary["docs_written"] == N_DOCS - 24
    ckpt = spark.read.parquet(str(tmp_path / "ckpt"))
    assert ckpt.agg(F.sum("n_docs")).first()[0] == N_DOCS - 24


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
