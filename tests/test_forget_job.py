"""Delete propagation (forget job): ids vanish from the corpus, the
index's bulk AND streaming code areas, and the embeddings table; index
search can no longer return them; re-runs are idempotent no-ops."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from coa_ocr_simple_spark.jobs.ann_index import (
    parse_args as ann_args,
    run_build,
    run_search,
)
from coa_ocr_simple_spark.jobs.forget import parse_args, run

SF = "/root/testdata/sf0.001"
DELETED = [3, 7, 100, 205]  # 100 is a query id; 205 absent from nothing


def _setup(spark, tmp_path):
    docs = str(tmp_path / "documents.parquet")
    emb = str(tmp_path / "embeddings.parquet")
    # working copies (the job rewrites in place)
    spark.read.parquet(f"{SF}/documents.parquet").write.parquet(docs)
    spark.read.parquet(f"{SF}/embeddings.parquet").write.parquet(emb)
    index = str(tmp_path / "index")
    run_build(
        ann_args(
            ["build", "--embeddings", emb, "--index", index, "--coarse-lloyd"]
        ),
        spark,
    )
    dl = str(tmp_path / "deletes.parquet")
    spark.createDataFrame(
        [(i,) for i in DELETED], "doc_id long"
    ).write.parquet(dl)
    return docs, emb, index, dl


def test_forget_scrubs_everything_and_is_idempotent(spark, tmp_path):
    docs, emb, index, dl = _setup(spark, tmp_path)
    report = str(tmp_path / "report")

    summary = run(
        parse_args(
            [
                "--delete-list", dl,
                "--documents", docs,
                "--embeddings", emb,
                "--index", index,
                "--report", report,
            ]
        ),
        spark,
    )
    assert summary["n_removed_documents"] == len(DELETED)
    assert summary["n_removed_embeddings"] == len(DELETED)
    assert summary["n_removed_index_codes"] == len(DELETED)

    for path, key in ((docs, "doc_id"), (emb, "vec_id")):
        left = {
            r[key]
            for r in spark.read.parquet(path)
            .where(F.col(key).isin(DELETED))
            .collect()
        }
        assert left == set()
    codes_left = {
        r["vec_id"]
        for r in spark.read.parquet(f"{index}/codes")
        .where(F.col("vec_id").isin(DELETED))
        .collect()
    }
    assert codes_left == set()

    # the audit report says where each id was found
    rep = {
        r["doc_id"]: (r["in_documents"], r["in_embeddings"], r["in_index_codes"])
        for r in spark.read.parquet(report).collect()
    }
    assert set(rep) == set(DELETED)
    assert all(v == (1, 1, 1) for v in rep.values())

    # a search against the scrubbed index never returns a deleted id
    hits = str(tmp_path / "hits")
    run_search(
        ann_args(
            [
                "search", "--index", index,
                "--queries", emb, "--output", hits,
                "--nprobe", "2", "--rerank", "8", "--vectors", emb,
            ]
        ),
        spark,
    )
    returned = {
        r["neighbor_id"] for r in spark.read.parquet(hits).collect()
    }
    assert not (returned & set(DELETED))

    # idempotent re-run: nothing left to remove, all-zero report rows
    summary2 = run(
        parse_args(
            [
                "--delete-list", dl,
                "--documents", docs,
                "--embeddings", emb,
                "--index", index,
                "--report", report,
            ]
        ),
        spark,
    )
    assert summary2["n_removed_documents"] == 0
    assert summary2["n_removed_embeddings"] == 0
    assert summary2["n_removed_index_codes"] == 0
    rep2 = {
        r["doc_id"]: (r["in_documents"], r["in_embeddings"], r["in_index_codes"])
        for r in spark.read.parquet(report).collect()
    }
    assert all(v == (0, 0, 0) for v in rep2.values())
    spark.catalog.clearCache()


def test_forget_scrubs_stream_ingest_area(spark, tmp_path):
    docs, emb, index, dl = _setup(spark, tmp_path)
    # simulate a streaming-ingested batch containing a deleted id
    base = spark.read.parquet(f"{index}/codes")
    base.where(F.col("vec_id").isin([3, 7, 9])).write.parquet(
        f"{index}/codes_stream/batch=0"
    )
    summary = run(
        parse_args(["--delete-list", dl, "--index", index]), spark
    )
    assert summary["n_removed_index_stream_codes"] == 2  # ids 3 and 7
    left = {
        r["vec_id"]
        for r in spark.read.parquet(f"{index}/codes_stream/batch=0").collect()
    }
    assert left == {9}
    shutil.rmtree(f"{index}/codes_stream")
    spark.catalog.clearCache()


def test_forget_scrubs_seed_centroids_of_seed_dot_index(spark, tmp_path):
    """Round-6 advisor item: a seed_dot index stores RAW seed vectors
    as centroids keyed by vec_id — deleting a seed id must scrub its
    centroid row too, and the summary must recommend a rebuild."""
    docs = str(tmp_path / "documents.parquet")
    emb = str(tmp_path / "embeddings.parquet")
    spark.read.parquet(f"{SF}/documents.parquet").write.parquet(docs)
    spark.read.parquet(f"{SF}/embeddings.parquet").write.parquet(emb)
    index = str(tmp_path / "index")
    run_build(  # NO --coarse-lloyd: seed_dot centroids
        ann_args(["build", "--embeddings", emb, "--index", index]), spark
    )
    seeds = {
        r["centroid_id"]
        for r in spark.read.parquet(f"{index}/centroids").collect()
    }
    victim = sorted(seeds)[1]
    dl = str(tmp_path / "deletes.parquet")
    spark.createDataFrame([(victim,)], "doc_id long").write.parquet(dl)

    summary = run(
        parse_args(["--delete-list", dl, "--index", index]), spark
    )
    assert summary["n_removed_index_centroids"] == 1
    assert summary["index_rebuild_recommended"] is True
    left = {
        r["centroid_id"]
        for r in spark.read.parquet(f"{index}/centroids").collect()
    }
    assert victim not in left and left == seeds - {victim}
    # idempotent re-run: nothing left to remove, no rebuild flag
    summary2 = run(
        parse_args(["--delete-list", dl, "--index", index]), spark
    )
    assert summary2["n_removed_index_centroids"] == 0
    assert "index_rebuild_recommended" not in summary2


def test_forget_handles_single_file_parquet_target(spark, tmp_path):
    """Round-6 advisor item: a single-FILE parquet target (the sf
    tables' own layout) must rewrite cleanly instead of raising
    NotADirectoryError from shutil.rmtree."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    one_file = str(tmp_path / "documents.parquet")
    tbl = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    pq.write_table(pa.Table.from_pandas(tbl), one_file)
    assert not __import__("os").path.isdir(one_file)

    dl = str(tmp_path / "deletes.parquet")
    spark.createDataFrame([(3,), (7,)], "doc_id long").write.parquet(dl)
    summary = run(
        parse_args(["--delete-list", dl, "--documents", one_file]), spark
    )
    assert summary["n_removed_documents"] == 2
    after = spark.read.parquet(one_file)
    assert after.where(F.col("doc_id").isin(3, 7)).count() == 0
    assert after.count() == len(tbl) - 2


def test_forget_recovers_interrupted_swap(spark, tmp_path):
    """Crash after the commit point, between delete and rename, left the
    table only under the hidden staging dir: the next run must promote
    it and proceed; staging without a MANIFEST beside an INTACT table
    must be discarded."""
    import os

    from coa_ocr_simple_spark.sources.commit import MANIFEST, STAGING

    docs = str(tmp_path / "documents.parquet")
    spark.read.parquet(f"{SF}/documents.parquet").write.parquet(docs)
    n_all = spark.read.parquet(docs).count()

    # case 1: committed staging + missing target (post-delete crash)
    # -> promoted
    staging = str(tmp_path / STAGING)
    os.makedirs(staging)
    shutil.move(docs, os.path.join(staging, "documents.parquet"))
    with open(os.path.join(staging, MANIFEST), "w") as f:
        f.write("documents.parquet\n")
    dl = str(tmp_path / "deletes.parquet")
    spark.createDataFrame([(3,)], "doc_id long").write.parquet(dl)
    summary = run(
        parse_args(["--delete-list", dl, "--documents", docs]), spark
    )
    assert summary["n_removed_documents"] == 1
    assert spark.read.parquet(docs).count() == n_all - 1
    assert not os.path.exists(staging)

    # case 2: staging + intact target (pre-delete crash) -> discarded
    os.makedirs(staging)
    with open(os.path.join(staging, "torn"), "w") as f:
        f.write("partial write")
    summary = run(
        parse_args(["--delete-list", dl, "--documents", docs]), spark
    )
    assert summary["n_removed_documents"] == 0  # idempotent
    assert not os.path.exists(staging)
    assert spark.read.parquet(docs).count() == n_all - 1
