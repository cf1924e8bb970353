"""apply_policy job: profile -> policy filter -> curated corpus, with
the policy verified against a direct computation and iteration on the
policy never re-reading payload signals."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from coa_ocr_simple_spark.jobs.apply_policy import parse_args, run
from coa_ocr_simple_spark.jobs.profile_corpus import (
    parse_args as profile_args,
    run as profile_run,
)


@pytest.fixture()
def profiled(spark, tmp_path):
    rng = random.Random(7)
    stop = ["the", "and", "of", "to", "in", "is"]
    vocab = [f"word{j}" for j in range(400)]
    rows = []
    for i in range(40):
        words = [
            rng.choice(stop) if k % 4 == 0 else rng.choice(vocab)
            for k in range(60)
        ]
        text = " ".join(words)
        if i % 4 == 2:
            text += " ###..." * 30  # gopher-bad symbol spam
        rows.append({"doc_id": i, "text": text, "lang": "en", "source": "s",
                     "n_chars": len(text)})
    docs_path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows), docs_path)
    attrs_path = str(tmp_path / "attrs")
    profile_run(
        profile_args(
            ["--input", docs_path, "--output", attrs_path,
             "--signals", "lq,gq"]
        ),
        spark,
    )
    return docs_path, attrs_path


def test_policy_filters_on_attributes(spark, tmp_path, profiled):
    docs_path, attrs_path = profiled
    out = str(tmp_path / "curated")
    report = str(tmp_path / "report")
    summary = run(
        parse_args(
            ["--input", docs_path, "--attributes", attrs_path,
             "--where", "gq_is_gopher_bad = 0 AND lq_is_quality",
             "--output", out, "--report", report]
        ),
        spark,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # direct computation from the attributes table
    want = {
        r["doc_id"]
        for r in spark.read.parquet(attrs_path)
        .where("gq_is_gopher_bad = 0 AND lq_is_quality")
        .collect()
    }
    assert kept == want
    assert summary["n_kept"] == len(kept)
    assert {i for i in range(40) if i % 4 == 2}.isdisjoint(kept)
    rep = {r["stage"]: r["n_docs"]
           for r in spark.read.parquet(report).collect()}
    assert rep["n_kept"] == len(kept) and rep["n_docs"] == 40

    # payload survives intact for the kept docs
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(docs_path).collect()}
    for r in spark.read.parquet(out).collect():
        assert r["text"] == texts[r["doc_id"]]


def test_policy_iteration_reuses_attributes(spark, tmp_path, profiled):
    """A second, stricter policy over the SAME attributes table —
    the iterate-on-policy loop; output is overwritten, not appended."""
    docs_path, attrs_path = profiled
    out = str(tmp_path / "curated2")
    s1 = run(
        parse_args(
            ["--input", docs_path, "--attributes", attrs_path,
             "--where", "TRUE", "--output", out]
        ),
        spark,
    )
    assert s1["n_kept"] == 40
    s2 = run(
        parse_args(
            ["--input", docs_path, "--attributes", attrs_path,
             "--where", "gq_is_gopher_bad = 0 AND doc_id < 20",
             "--output", out]
        ),
        spark,
    )
    assert s2["n_kept"] == spark.read.parquet(out).count() < 40


def test_soft_sampling_policy_via_doc_coin(spark, tmp_path, profiled):
    """The attributes table carries the deterministic md5 coin, so a
    policy can express quality-weighted SOFT sampling — verified
    against an independent hashlib computation of the same ramp."""
    import hashlib

    docs_path, attrs_path = profiled
    out = str(tmp_path / "soft")
    # a soft ramp over the lq quality flag is meaningless; use doc_coin
    # directly: keep with probability 25% (coin < 16384), the simplest
    # md5-coin policy, then check the exact expected set
    summary = run(
        parse_args(
            ["--input", docs_path, "--attributes", attrs_path,
             "--where", "doc_coin < 16384", "--output", out]
        ),
        spark,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    want = {
        i for i in range(40)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) < 16384
    }
    assert kept == want
    assert 0 < summary["n_kept"] < 40


def test_policy_over_tercile_and_hygiene_signals(spark, tmp_path, profiled):
    """The second-wave signals compose into policies: profile ppl/enc/
    nfc once, then select head+middle perplexity docs that are
    encoding-clean — verified against the attributes table directly."""
    docs_path, _ = profiled
    attrs_path = str(tmp_path / "attrs2")
    profile_run(
        profile_args(
            ["--input", docs_path, "--output", attrs_path,
             "--signals", "ppl,enc,nfc"]
        ),
        spark,
    )
    out = str(tmp_path / "curated2")
    summary = run(
        parse_args(
            ["--input", docs_path, "--attributes", attrs_path,
             "--where", "ppl_ppl_bucket < 2 AND enc_is_clean = 1",
             "--output", out]
        ),
        spark,
    )
    attrs = {r["doc_id"]: r for r in spark.read.parquet(attrs_path).collect()}
    expected = {
        d
        for d, r in attrs.items()
        if r["ppl_ppl_bucket"] < 2 and r["enc_is_clean"] == 1
    }
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == expected
    assert summary["n_kept"] == len(expected)
    # ASCII corpus: the NFC delta rode along and is inert but present
    assert all(attrs[d]["nfc_is_changed"] == 0 for d in attrs)
    # the tercile is a real split on this corpus, not a constant
    assert 0 < len(expected) < len(attrs)


def test_policy_counts_come_from_the_write(spark, tmp_path, profiled, job_and_action_counts):
    """The summary counts are observed on the one write the job runs:
    they equal explicit count()s, and a run without --report is one SQL
    action.  Reading them with three count() jobs after the write (one a
    re-read of the output) made it 4 actions."""
    docs_path, attrs_path = profiled
    out = str(tmp_path / "counted")
    where = "gq_is_gopher_bad = 0 AND lq_is_quality"
    result = {}

    def _run():
        result["summary"] = run(
            parse_args(
                ["--input", docs_path, "--attributes", attrs_path,
                 "--where", where, "--output", out]
            ),
            spark,
        )

    spark.catalog.clearCache()
    n_jobs, n_actions = job_and_action_counts(_run)
    attrs = spark.read.parquet(attrs_path)
    assert result["summary"] == {
        "n_attributes_rows": attrs.count(),
        "n_docs": spark.read.parquet(docs_path).count(),
        "n_kept": spark.read.parquet(out).count(),
        "policy": where,
    }
    assert result["summary"]["n_kept"] == attrs.where(where).count() < 40
    assert n_actions == 1, (n_jobs, n_actions)
