"""One session factory and one job shell for every Spark entry point.

``coa_ocr_simple_spark.session.make_session`` is the only place a
``SparkSession`` is built, and ``jobs/_cli.py`` the only place the session
flags are defined.  None of these tests starts a JVM.
"""

from __future__ import annotations

import importlib
import pathlib
import re

import pytest
from pyspark.sql import SparkSession

from coa_ocr_simple_spark.jobs.extract import make_session

# the SQL conf every job ships with
DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.session.timeZone": "UTC",
}

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "coa_ocr_simple_spark"

# each job's required flags; ann_index is listed once per sub-command
JOB_ARGS = {
    "ann_index build": ["build", "--embeddings", "e", "--index", "i"],
    "ann_index add": ["add", "--embeddings", "e", "--index", "i"],
    "ann_index compact": ["compact", "--index", "i"],
    "ann_index search": ["search", "--index", "i", "--queries", "q", "--output", "o"],
    "apply_policy": ["--input", "i", "--attributes", "a", "--where", "true", "--output", "o"],
    "cluster_sample": ["--embeddings", "e", "--sample", "s"],
    "curate": ["--input", "i", "--output", "o"],
    "decontaminate": ["--train", "t", "--eval", "e", "--report", "r"],
    "export_shards": ["--input", "i", "--output", "o"],
    "extract": ["--input", "i", "--output", "o"],
    "forget": ["--delete-list", "d"],
    "profile_corpus": ["--input", "i", "--output", "o"],
    "profile_table": ["--input", "i", "--output", "o"],
    "semdedup": ["--input", "i", "--verdicts", "v"],
    "tokenize_pack": ["--encoded-input", "e", "--output", "o"],
    "train_bpe": ["--input", "i", "--output", "o"],
    "train_quality": ["--input", "i", "--model", "m"],
}


class _RecordingBuilder:
    """Stands in for the pyspark session builder: records the options in the
    order they are set, the last write of a key winning as in Spark's."""

    def __init__(self):
        self.options = {}

    def appName(self, name):
        return self.config("spark.app.name", name)

    def master(self, master):
        return self.config("spark.master", master)

    def config(self, key=None, value=None, *, map=None):
        self.options.update(map or {key: value})
        return self

    def getOrCreate(self):
        return self.options


def test_conf_overrides_builtin_defaults(monkeypatch):
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    user = {key: f"user-{i}" for i, key in enumerate(DEFAULTS)}
    user["spark.sql.execution.arrow.maxRecordsPerBatch"] = "512"
    user["spark.sql.shuffle.partitions"] = "7"
    options = make_session(
        "app", "local[2]", 3, [f"{k}={v}" for k, v in user.items()]
    )
    assert {k: options[k] for k in user} == user


def test_defaults_apply_without_conf(monkeypatch):
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    options = make_session("app", None, None)
    assert options == {"spark.app.name": "app", **DEFAULTS}


@pytest.mark.parametrize("kv", ["novalue", "=v"])
def test_conf_must_be_key_value(monkeypatch, kv):
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    with pytest.raises(SystemExit, match="key=value"):
        make_session("app", None, None, [kv])


@pytest.mark.parametrize("job", JOB_ARGS)
def test_job_session_flags(job):
    module = importlib.import_module(f"coa_ocr_simple_spark.jobs.{job.split()[0]}")
    args = module.parse_args(JOB_ARGS[job])
    assert (args.master, args.shuffle_partitions, args.conf) == (None, None, [])
    args = module.parse_args(
        JOB_ARGS[job]
        + ["--master", "local[2]", "--shuffle-partitions", "3", "--conf", "a=b"]
    )
    assert (args.master, args.shuffle_partitions, args.conf) == ("local[2]", 3, ["a=b"])


def _sources():
    for root in (PACKAGE, REPO / "tests", REPO / "scripts"):
        yield from sorted(root.rglob("*.py"))
    yield REPO / "bench.py"


def _sites(pattern: str) -> list[str]:
    return [
        str(path.relative_to(REPO))
        for path in _sources()
        if re.search(pattern, path.read_text(encoding="utf-8"))
    ]


def test_one_session_builder():
    assert _sites(r"SparkSession\s*\.\s*builder\b") == ["coa_ocr_simple_spark/session.py"]


def test_one_definition_of_the_session_flags():
    assert _sites(r"add_argument\(\s*\"--master\"") == ["coa_ocr_simple_spark/jobs/_cli.py"]
