"""Stream-static-join decontamination: candidate docs are screened
against a static train-gram table; exact-13-gram overlaps are flagged
incrementally, and a checkpoint restart processes only new files."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq


def _doc_rows(rows):
    return [
        {"doc_id": i, "text": t, "lang": "en", "source": "s", "n_chars": len(t)}
        for i, t in rows
    ]


TRAIN_SENTENCE = " ".join(f"tok{i}" for i in range(20))  # 20 tokens > 13


def test_stream_flags_only_contaminated_and_resumes(spark, tmp_path):
    from coa_ocr_simple_spark.streaming.decontaminate_stream import (
        run_streaming_decontamination,
        train_grams,
    )

    # static train corpus: two docs sharing one 20-token sentence
    train_path = str(tmp_path / "train.parquet")
    pq.write_table(
        pa.Table.from_pylist(
            _doc_rows(
                [
                    (1000, f"{TRAIN_SENTENCE} trailing train text one two three"),
                    (1001, f"prefix words here {TRAIN_SENTENCE}"),
                ]
            )
        ),
        train_path,
    )
    grams_path = str(tmp_path / "train_grams.parquet")
    train_grams(spark.read.parquet(train_path)).write.parquet(grams_path)

    inp = tmp_path / "candidates"
    inp.mkdir()
    out = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")

    clean = " ".join(f"other{i}" for i in range(30))
    # batch 1: one contaminated candidate (contains the train sentence
    # verbatim), one clean
    pq.write_table(
        pa.Table.from_pylist(
            _doc_rows([(1, f"intro {TRAIN_SENTENCE} outro"), (2, clean)])
        ),
        str(inp / "b1.parquet"),
    )
    run_streaming_decontamination(spark, str(inp), grams_path, out, ckpt)
    first = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(first) == {1}  # the clean doc emitted no row
    # 20-token shared span -> 20-13+1 = 8 contaminated grams, both train
    # docs contain the sentence
    assert first[1]["n_overlap_grams"] == 8
    assert first[1]["n_train_docs"] == 2

    # batch 2 after restart: another contaminated + another clean doc;
    # only the new file is processed (doc 1 is not re-flagged)
    pq.write_table(
        pa.Table.from_pylist(
            _doc_rows(
                [(3, f"{TRAIN_SENTENCE} different tail"), (4, clean + " more")]
            )
        ),
        str(inp / "b2.parquet"),
    )
    run_streaming_decontamination(spark, str(inp), grams_path, out, ckpt)
    final = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(final) == {1, 3}
    assert final[3]["n_overlap_grams"] == 8


def test_stream_matches_batch_semantics(spark, tmp_path):
    """The streaming flagger and the batch gram_decontamination rollup
    agree doc-for-doc when fed the same corpus split."""
    from pyspark.sql import functions as F

    from coa_ocr_simple_spark.plans.driver_queries_quality import (
        gram_decontamination,
    )
    from coa_ocr_simple_spark.streaming.decontaminate_stream import (
        flag_contaminated,
        train_grams,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch = {
        r["eval_doc_id"]: (r["n_overlap_grams"], r["n_train_docs"])
        for r in gram_decontamination(docs).collect()
    }
    static = train_grams(docs.where(F.col("doc_id") % 10 != 0))
    streamed = {
        r["doc_id"]: (r["n_overlap_grams"], r["n_train_docs"])
        for r in flag_contaminated(
            docs.where(F.col("doc_id") % 10 == 0), static
        ).collect()
    }
    assert streamed == batch


def test_replayed_batch_does_not_duplicate_flags(spark, tmp_path):
    """ADVICE (round 3): foreachBatch is at-least-once — a crash between
    the sink write and the checkpoint commit replays the same batch_id on
    restart.  The sink must be idempotent: re-emitting a batch (same id)
    leaves exactly one row per flagged doc, not two."""
    from coa_ocr_simple_spark.streaming._runner import (
        write_batch as write_flags_batch,
    )
    from coa_ocr_simple_spark.streaming.decontaminate_stream import (
        flag_contaminated,
        train_grams,
    )

    train_path = str(tmp_path / "train.parquet")
    pq.write_table(
        pa.Table.from_pylist(_doc_rows([(1000, f"{TRAIN_SENTENCE} tail words")])),
        train_path,
    )
    static = spark.read.parquet(train_path)
    grams = train_grams(static)

    cand_path = str(tmp_path / "cand.parquet")
    pq.write_table(
        pa.Table.from_pylist(_doc_rows([(1, f"intro {TRAIN_SENTENCE} outro")])),
        cand_path,
    )
    candidates = spark.read.parquet(cand_path)

    out = str(tmp_path / "flags")
    flagged = flag_contaminated(candidates, grams)
    write_flags_batch(flagged, out, 0)
    # replay of the SAME batch (crash-before-commit): must overwrite, not append
    write_flags_batch(flagged, out, 0)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 1
