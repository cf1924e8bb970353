"""The four benchmark workloads.

Each workload has untimed ``prepare`` (corpus + oracle, before Spark starts),
``register`` (input registration, part of set-up), ``reset`` (untimed pass
isolation), the timed ``run_pass``, and ``verify`` (untimed oracle check).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from corpus import CurateCorpus, SpanCorpus
from coretrace import oracle_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# corpus sizes, chosen so one warm pass takes 1-4 s on a 4-core host
THIN_DOCS = 3000
MEDIA_DOCS = 200
RESUME_DOCS = 300
CURATE_DOCS = 300

RUN_ID = "perfbench"
_COMPARED = ("doc_id", "out_spans", "doc_type", "entities")


@functools.cache
def _code_digest() -> str:
    """Digest of the package's Python source: the oracle and the output
    schema the benchmark caches are recomputed when it changes."""
    h = hashlib.sha256()
    root = os.path.join(REPO, "coa_ocr_simple_spark")
    for top, subdirs, names in os.walk(root):
        subdirs.sort()
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(top, name)
                with open(path, "rb") as f:
                    h.update(os.path.relpath(path, root).encode() + f.read())
    return h.hexdigest()[:12]


def _oracle_key(corpus) -> str:
    """Oracle-cache file name: the corpus (its name carries the generator
    digest) and the code the oracle runs."""
    return f"{os.path.basename(corpus.path)}-{_code_digest()}.json"


def _cached_json(path: str, compute, refresh: bool = False):
    if not refresh and os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def _canon(row: dict) -> tuple:
    spans = tuple(
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["out_spans"] or ()
    )
    entities = row["entities"] or {}
    if not isinstance(entities, dict):  # arrow maps arrive as (key, value) pairs
        entities = dict(entities)
    return spans, row["doc_type"], tuple(sorted(entities.items()))


def count_failures(expected: dict[str, tuple], got_rows: list[dict]) -> int:
    """Documents missing, duplicated, unexpected, or unequal to the oracle."""
    seen = Counter(r["doc_id"] for r in got_rows)
    got = {r["doc_id"]: r for r in got_rows}
    failed = sum(1 for d in seen if d not in expected)
    for doc_id, canon in expected.items():
        if seen[doc_id] != 1 or _canon(got[doc_id]) != canon:
            failed += 1
    return failed


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""
    docs_per_pass = 0
    runs_job = False  # a pass is one run() of a jobs/ module

    def __init__(self, work: str, cache: str, seed: int):
        self.work, self.cache, self.seed = work, cache, seed
        self.out_dir = os.path.join(work, "out", self.name)
        self.core_metrics: dict = {}
        self.pass_layer: dict = {}  # per-pass layer figures of the last pass

    def after_setup(self, spark) -> None:
        """Untimed work between set-up and the cold pass."""

    def reset(self, spark) -> None:
        spark.catalog.clearCache()

    def written_files(self) -> dict[str, int]:
        return _files(self.out_dir)

    def layer_notes(self) -> dict[str, str]:
        return {}


class Extraction(Workload):
    """thin_text / media_mix: build_extract_plan over the corpus, forced
    through the noop sink."""

    corpus_kind = ""
    n_docs = 0

    def prepare(self, trace: bool) -> None:
        corpus = SpanCorpus(os.path.join(self.cache, "corpora"), self.corpus_kind, self.n_docs, self.seed)
        self.corpus = corpus
        self.docs_per_pass = len(corpus.docs)

        def compute():
            rows, self.core_metrics = oracle_rows(corpus.docs, corpus.media, trace)
            return [{k: r[k] for k in _COMPARED} for r in rows]

        rows = _cached_json(os.path.join(self.cache, "oracle", _oracle_key(corpus)), compute, refresh=trace)
        self.expected = {r["doc_id"]: _canon(r) for r in rows}

    def register(self, spark) -> None:
        self.docs = spark.read.parquet(self.corpus.docs_path)
        self.media = spark.read.parquet(self.corpus.media_path) if self.corpus.has_media else None
        self.docs.count()

    def plan(self):
        from coa_ocr_simple_spark.plans.extract_plan import ExtractOptions, build_extract_plan

        return build_extract_plan(self.docs, self.media, options=ExtractOptions(run_id=RUN_ID))

    def run_pass(self, spark) -> None:
        self.plan().write.mode("overwrite").format("noop").save()

    def main_plan(self, spark):
        return self.plan()

    def verify(self, spark) -> tuple[int, int]:
        got = self.plan().select(*_COMPARED).toArrow().to_pylist()
        return len(self.expected), count_failures(self.expected, got)

    def written_files(self) -> dict[str, int]:
        return {}

    def layer_notes(self) -> dict[str, str]:
        return {
            "sources.*": "the noop sink writes nothing; no TableIO call",
            "operators.checkpoint.*": "no resume: only resume_append reads a prior output",
            "jobs.*": "the plan is built directly; no jobs/ module runs",
        }


class ThinText(Extraction):
    name = "thin_text"
    corpus_kind = "thin"
    n_docs = THIN_DOCS

    def layer_notes(self) -> dict[str, str]:
        return {**super().layer_notes(), "core.decode_s": "text and html spans only; nothing to decode"}


class MediaMix(Extraction):
    name = "media_mix"
    corpus_kind = "media"
    n_docs = MEDIA_DOCS


class ResumeAppend(Workload):
    """jobs.extract.run --resume --checkpoint against an output that already
    holds 90% of a media_mix corpus (all but every tenth document), restored
    before every pass."""

    name = "resume_append"
    runs_job = True

    def prepare(self, trace: bool) -> None:
        corpus = SpanCorpus(os.path.join(self.cache, "corpora"), "media", RESUME_DOCS, self.seed)
        self.corpus = corpus
        # every 10th document is missing: the same share of each class for
        # every seed
        self.missing = {d["doc_id"] for i, d in enumerate(corpus.docs) if i % 10 == 3}
        self.docs_per_pass = len(self.missing)

        def compute():
            done = [d for d in corpus.docs if d["doc_id"] not in self.missing]
            todo = [d for d in corpus.docs if d["doc_id"] in self.missing]
            prefill, _ = oracle_rows(done, corpus.media, False)
            redo, self.core_metrics = oracle_rows(todo, corpus.media, trace)
            return {"prefill": prefill, "redo": [{k: r[k] for k in _COMPARED} for r in redo]}

        key = _oracle_key(corpus)
        oracle = _cached_json(os.path.join(self.cache, "oracle", key), compute, refresh=trace)
        self.prefill_rows = oracle["prefill"]
        self.expected = {r["doc_id"]: _canon(r) for r in oracle["redo"]}
        self.prefill_ids = {r["doc_id"] for r in self.prefill_rows}
        self.template = os.path.join(self.cache, "prefill", key[: -len(".json")])
        self.ckpt_dir = os.path.join(self.work, "out", "resume_checkpoint")

    def register(self, spark) -> None:
        from coa_ocr_simple_spark.jobs import extract

        self.args = extract.parse_args(
            [
                "--input", self.corpus.docs_path,
                "--media", self.corpus.media_path,
                "--output", self.out_dir,
                "--checkpoint", self.ckpt_dir,
                "--run-id", RUN_ID,
                "--resume",
            ]
        )
        spark.read.parquet(self.corpus.docs_path).count()

    def after_setup(self, spark) -> None:
        """The prefilled output, in the exact schema the job writes (untimed,
        pyarrow only, so the first pass stays cold).  The schema is cached
        per code version, so only the first run in a checkout asks Spark."""
        if os.path.exists(self.template):
            return
        schema_path = os.path.join(self.cache, "prefill", f"schema-{_code_digest()}.parquet")
        if not os.path.exists(schema_path):
            from pyspark.sql.pandas.types import to_arrow_schema

            from coa_ocr_simple_spark.plans.extract_plan import ExtractOptions, build_extract_plan

            docs = spark.read.parquet(self.corpus.docs_path)
            media = spark.read.parquet(self.corpus.media_path)
            schema = to_arrow_schema(
                build_extract_plan(docs, media, options=ExtractOptions(run_id=RUN_ID)).schema
            )
            os.makedirs(os.path.dirname(schema_path), exist_ok=True)
            pq.write_table(schema.empty_table(), schema_path + ".tmp")
            os.replace(schema_path + ".tmp", schema_path)
        rows = [{**r, "_run_id": "prefill", "_partition_id": 0} for r in self.prefill_rows]
        tmp = self.template + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=pq.read_schema(schema_path)),
            os.path.join(tmp, "part-00000-prefill.parquet"),
        )
        os.rename(tmp, self.template)

    def reset(self, spark) -> None:
        super().reset(spark)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        shutil.copytree(self.template, self.out_dir)

    def main_plan(self, spark):
        from coa_ocr_simple_spark.plans.extract_plan import ExtractOptions, build_extract_plan

        self.reset(spark)
        return build_extract_plan(
            spark.read.parquet(self.corpus.docs_path),
            spark.read.parquet(self.corpus.media_path),
            options=ExtractOptions(run_id=RUN_ID),
            done=spark.read.parquet(self.out_dir),
        )

    def run_pass(self, spark) -> None:
        from coa_ocr_simple_spark.jobs import extract

        t0 = time.perf_counter()
        extract.run(self.args, spark)
        self.pass_layer = {"jobs.extract_run_s": time.perf_counter() - t0}

    def written_files(self) -> dict[str, int]:
        return {p: n for p, n in {**_files(self.out_dir), **_files(self.ckpt_dir)}.items() if "prefill" not in p}

    def verify(self, spark) -> tuple[int, int]:
        """After the last pass: every doc_id exactly once, prefilled rows
        untouched, resumed rows equal to the oracle, checkpoint complete."""
        out = pq.read_table(self.out_dir).to_pylist()
        resumed = [r for r in out if r["_run_id"] == RUN_ID]
        kept = Counter(r["doc_id"] for r in out if r["_run_id"] != RUN_ID)
        failed = count_failures(self.expected, resumed)
        failed += sum(1 for d in self.prefill_ids if kept[d] != 1)
        failed += sum(1 for d in kept if d not in self.prefill_ids)
        ckpt = pq.read_table(self.ckpt_dir).to_pylist()
        if sum(r["n_docs"] for r in ckpt) != len(self.missing):
            failed += 1
        redone = sum(1 for r in resumed if r["doc_id"] in self.prefill_ids)
        self.checkpoint_metrics = {
            "operators.checkpoint.docs_skipped": len(self.corpus.docs) - len(resumed),
            "operators.checkpoint.docs_redone": redone,
            "operators.checkpoint.metrics_rows": len(ckpt),
            "operators.checkpoint.extracted_per_missing": len(resumed) / len(self.missing),
        }
        return len(self.corpus.docs) + 1, failed

    def layer_notes(self) -> dict[str, str]:
        return {"jobs.curate_run_s": "curate_funnel only"}


class CurateFunnel(Workload):
    """jobs.curate.run with default stages: quality gate -> exact dedup ->
    MinHash/LSH near-dup, plus its stage-count jobs."""

    name = "curate_funnel"
    runs_job = True
    STAGES = ("n_total", "n_quality", "n_after_exact_dedup", "n_curated")

    def prepare(self, trace: bool) -> None:
        self.corpus = CurateCorpus(os.path.join(self.cache, "corpora"), CURATE_DOCS, self.seed)
        self.docs_per_pass = CURATE_DOCS
        self.expected = _cached_json(
            os.path.join(self.cache, "oracle", _oracle_key(self.corpus)), self._duckdb_counts
        )
        self.summaries: list[dict] = []

    def _duckdb_counts(self) -> dict:
        import duckdb

        from coa_ocr_simple_spark.plans.driver_queries_dedup import ORACLES_DEDUP

        con = duckdb.connect()
        try:
            path = self.corpus.docs_path.replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            cur = con.execute(ORACLES_DEDUP["curation_funnel"])
            names = [d[0] for d in cur.description]
            return {k: int(v) for k, v in zip(names, cur.fetchone())}
        finally:
            con.close()

    def register(self, spark) -> None:
        from coa_ocr_simple_spark.jobs import curate

        self.args = curate.parse_args(["--input", self.corpus.docs_path, "--output", self.out_dir])
        spark.read.parquet(self.corpus.docs_path).count()

    def reset(self, spark) -> None:
        super().reset(spark)
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def main_plan(self, spark):
        from coa_ocr_simple_spark.plans.driver_queries_dedup import curation_stages

        return curation_stages(spark.read.parquet(self.corpus.docs_path))[2]

    def run_pass(self, spark) -> None:
        from coa_ocr_simple_spark.jobs import curate

        t0 = time.perf_counter()
        summary = curate.run(self.args, spark)
        self.pass_layer = {"jobs.curate_run_s": time.perf_counter() - t0}
        self.summaries.append(summary)

    def verify(self, spark) -> tuple[int, int]:
        """Every pass's stage counts against DuckDB, and the last pass's
        written output against its n_curated."""
        failed = sum(
            1 for s in self.summaries for k in self.STAGES if s[k] != self.expected[k]
        )
        if pq.read_table(self.out_dir, columns=["doc_id"]).num_rows != self.expected["n_curated"]:
            failed += 1
        return len(self.summaries) * len(self.STAGES) + 1, failed

    def layer_notes(self) -> dict[str, str]:
        return {
            "core.*": "curation calls no core UDF",
            "functions.*": "no Python UDF in the curation plans",
            "operators.checkpoint.*": "no resume: only resume_append reads a prior output",
            "jobs.extract_run_s": "resume_append only",
        }


WORKLOADS = {w.name: w for w in (ThinText, MediaMix, ResumeAppend, CurateFunnel)}
