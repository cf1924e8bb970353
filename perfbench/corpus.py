"""Seeded benchmark corpora, written once per (kind, size, seed) and reused.

The program under test only ever sees the parquet files written here.  A
corpus directory is complete once its ``_DONE`` marker exists, so an
interrupted write is regenerated instead of read half-written.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from coa_ocr_simple_spark.fixtures.generate import (
    DOCS_SCHEMA,
    MEDIA_SCHEMA,
    SpanBuilder,
    template_coa,
    template_html,
    template_sds,
    template_tds,
)

N_FILES = 8  # input splits: two per core on a 4-core host


def _generator_digest() -> str:
    """Cache-key part: a corpus is only as fresh as the code that made it."""
    from coa_ocr_simple_spark.fixtures import generate

    h = hashlib.sha256()
    for path in (__file__, generate.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


CURATE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data column join filter query group order stream vector "
    "customer small big index shard block"
).split()
_STOPWORDS = "the and of to in is that for with as".split()


def _layout(n: int, shares: dict[str, float]) -> list[str]:
    """Document class per index.  Fixed for a given size -- not drawn from
    the seed -- so every seed carries the same amount of work and the same
    partitioning; the seed only varies the document contents."""
    classes: list[str] = []
    for cls, share in shares.items():
        classes += [cls] * round(n * share)
    classes = (classes + [next(iter(shares))] * n)[:n]
    random.Random(0).shuffle(classes)
    return classes


def _ladder(k: int, count: int, lo: int, hi: int) -> int:
    """k-th of ``count`` values spread evenly over [lo, hi]."""
    return lo + (hi - lo) * k // max(1, count - 1)


def build_thin_corpus(n_docs: int, seed: int) -> SpanBuilder:
    """1-span documents only: COA/SDS/TDS text templates and HTML pages, the
    shape the extraction fast path takes (no explode, join or shuffle)."""
    rng = random.Random(seed)
    b = SpanBuilder()
    makers = [template_coa, template_sds, template_tds]
    for i, cls in enumerate(_layout(n_docs, {"text": 0.85, "html": 0.15})):
        if cls == "html":
            b.add(f"doc-{i:08d}", [("html", template_html(rng), {})])
        else:
            b.add(f"doc-{i:08d}", [("text", makers[i % 3](rng), {})])
    return b


def build_media_corpus(n_docs: int, seed: int) -> SpanBuilder:
    """The FIXTURES.md section 4 bench mix (``build_bench_corpus``): 70% text,
    10% html, 15% pdf with 2-5 spans, 5% fat docs with 20-200 image spans --
    with exact class counts and span counts on an even ladder instead of
    per-document dice, so the skew is the same for every seed."""
    rng = random.Random(seed)
    b = SpanBuilder()
    makers = [template_coa, template_sds, template_tds]
    layout = _layout(n_docs, {"text": 0.70, "html": 0.10, "pdf": 0.15, "fat": 0.05})
    n_fat = layout.count("fat")
    seen = {"pdf": 0, "fat": 0}
    for i, cls in enumerate(layout):
        doc_id = f"doc-{i:08d}"
        if cls == "text":
            b.add(doc_id, [("text", makers[i % 3](rng), {})])
        elif cls == "html":
            b.add(doc_id, [("html", template_html(rng), {})])
        elif cls == "pdf":
            n = 2 + seen["pdf"] % 4
            b.add(
                doc_id,
                [
                    ("pdf", makers[(i + k) % 3](rng), {"n_pages": 2, "scanned": k % 2 == 0})
                    for k in range(n)
                ],
            )
        else:
            n = _ladder(seen["fat"], n_fat, 20, 200)
            b.add(doc_id, [("image", template_coa(rng), {}) for _ in range(n)])
        if cls in seen:
            seen[cls] += 1
    return b


def build_curate_rows(n_docs: int, seed: int) -> list[dict]:
    """Flat documents table for the curation funnel: random-word texts with a
    varying stopword share (so the quality gate drops some), plus exact
    copies and one-word edits of earlier documents (so both dedup stages
    drop some)."""
    rng = random.Random(seed)
    texts: list[str] = []
    layout = _layout(n_docs, {"fresh": 0.84, "copy": 0.08, "edit": 0.08})
    for i, cls in enumerate(layout):
        if cls == "copy" and texts:
            text = rng.choice(texts)
        elif cls == "edit" and texts:
            words = rng.choice(texts).split()
            words[-1] = rng.choice(_WORDS)
            text = " ".join(words)
        else:
            sw_share = (0.0, 0.03, 0.12)[i % 3]
            n_words = 3 + (i * 37) % 68
            text = " ".join(
                rng.choice(_STOPWORDS) if rng.random() < sw_share else rng.choice(_WORDS)
                for _ in range(n_words)
            )
        texts.append(text)
    return [
        {"doc_id": i, "text": t, "lang": "en", "source": f"src{i % 5}", "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]


def _write_once(path: str, write) -> None:
    if os.path.exists(os.path.join(path, "_DONE")):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def _write_split(table: pa.Table, directory: str) -> None:
    os.makedirs(directory)
    per = max(1, -(-table.num_rows // N_FILES))
    for i in range(N_FILES if table.num_rows else 1):
        chunk = table.slice(i * per, per)
        if chunk.num_rows or not table.num_rows:
            pq.write_table(chunk, os.path.join(directory, f"part-{i:05d}.parquet"))


class SpanCorpus:
    """A documents(doc_id, spans) table plus its media store."""

    def __init__(self, root: str, kind: str, n_docs: int, seed: int):
        self.path = os.path.join(root, f"{kind}-n{n_docs}-s{seed}-{_generator_digest()}")
        self.docs_path = os.path.join(self.path, "docs")
        self.media_path = os.path.join(self.path, "media")

        def write(tmp: str) -> None:
            build = build_thin_corpus if kind == "thin" else build_media_corpus
            b = build(n_docs, seed)
            _write_split(
                pa.Table.from_pylist(b.docs, schema=DOCS_SCHEMA),
                os.path.join(tmp, "docs"),
            )
            _write_split(
                pa.Table.from_pylist(b.media, schema=MEDIA_SCHEMA),
                os.path.join(tmp, "media"),
            )

        _write_once(self.path, write)
        self.docs = pq.read_table(self.docs_path).to_pylist()
        self.media = pq.read_table(self.media_path).to_pylist()

    @property
    def has_media(self) -> bool:
        return bool(self.media)


class CurateCorpus:
    """The flat documents table the curation funnel reads."""

    def __init__(self, root: str, n_docs: int, seed: int):
        self.path = os.path.join(root, f"curate-n{n_docs}-s{seed}-{_generator_digest()}")
        self.docs_path = os.path.join(self.path, "documents.parquet")

        def write(tmp: str) -> None:
            rows = build_curate_rows(n_docs, seed)
            pq.write_table(
                pa.Table.from_pylist(rows, schema=CURATE_SCHEMA),
                os.path.join(tmp, "documents.parquet"),
            )

        _write_once(self.path, write)
