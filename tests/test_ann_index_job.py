"""Persisted IVF-PQ index: build/search round-trip parity.

The inline ANN queries are oracle-checked; what the index job adds is
the STORE/LOAD boundary (packed-code layout, Q-scaled codebook on
parquet), so the pin here is: searching frames loaded from disk equals
searching the same frames in memory, bit for bit, on both the ADC and
the rerank paths — plus the self-hit and exclude-self invariants a
stored index must satisfy.
"""

from __future__ import annotations

from coa_ocr_simple_spark.jobs.ann_index import parse_args, run_build, run_search
from coa_ocr_simple_spark.plans.ann_index import (
    build_index_frames,
    quantized,
    search_index_frames,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_search_roundtrip_and_self_hit(spark, tmp_path):
    index = str(tmp_path / "index")
    out = str(tmp_path / "hits")
    build_summary = run_build(
        parse_args(["build", "--embeddings", EMB, "--index", index]), spark
    )
    emb = quantized(spark.read.parquet(EMB))
    n = emb.count()
    assert build_summary["n_vectors"] == n

    # queries: the same deterministic subset the inline queries use
    from pyspark.sql import functions as F

    queries = emb.where(F.col("vec_id") % 100 == 0)

    # loaded-from-disk frames vs in-memory frames: identical results
    centroids = spark.read.parquet(f"{index}/centroids")
    codebook = spark.read.parquet(f"{index}/codebook")
    codes = spark.read.parquet(f"{index}/codes")
    emb_p = emb.persist()
    emb_p.count()
    mem_centroids, mem_codebook, mem_codes = build_index_frames(emb_p)

    for kwargs in (
        {"nprobe": 2, "rerank": 32, "vectors": emb},
        {"nprobe": 1},
    ):
        from_disk = search_index_frames(
            queries, centroids, codebook, codes, **kwargs
        )
        in_mem = search_index_frames(
            queries, mem_centroids, mem_codebook, mem_codes, **kwargs
        )
        assert _rows(from_disk) == _rows(in_mem)
        spark.catalog.clearCache()

    # a query that IS in the index must refine to itself at rank 1
    # (its ADC distance is pure quantization error, so it makes the
    # shortlist, and the exact dot against itself wins on this corpus)
    hits = search_index_frames(
        queries, centroids, codebook, codes, nprobe=2, rerank=32, vectors=emb
    ).collect()
    spark.catalog.clearCache()
    top1 = {r["query_id"]: r["neighbor_id"] for r in hits if r["rank"] == 1}
    assert top1 and all(q == n_ for q, n_ in top1.items())

    # exclude_self drops exactly the self rows from the candidate pool
    noself = search_index_frames(
        queries,
        centroids,
        codebook,
        codes,
        nprobe=2,
        rerank=32,
        vectors=emb,
        exclude_self=True,
    ).collect()
    spark.catalog.clearCache()
    assert all(r["query_id"] != r["neighbor_id"] for r in noself)

    # the search CLI writes the same hits it computes (overwrite on rerun)
    for _ in range(2):
        search_summary = run_search(
            parse_args(
                [
                    "search",
                    "--index",
                    index,
                    "--queries",
                    EMB,
                    "--output",
                    out,
                    "--nprobe",
                    "2",
                    "--rerank",
                    "32",
                    "--vectors",
                    EMB,
                ]
            ),
            spark,
        )
    written = spark.read.parquet(out)
    assert written.count() == search_summary["n_hits"]
    # every vector served as a query and at least found itself
    assert search_summary["n_queries"] == n
    emb_p.unpersist()


def test_incremental_add_encodes_with_stored_quantizer(spark, tmp_path):
    """`add`: new vectors are encoded with the STORED codebook (no
    retrain), land searchable (self-hit at rank 1 under refine),
    already-present ids are skipped on replay, and the added rows are
    bit-identical to encoding the same vectors in memory against the
    stored quantizer frames."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from pyspark.sql import functions as F

    from coa_ocr_simple_spark.jobs.ann_index import run_add
    from coa_ocr_simple_spark.plans.ann_index import encode_frames

    emb_raw = spark.read.parquet(EMB)
    halves = {}
    for name, parity in (("even", 0), ("odd", 1)):
        part = emb_raw.where(F.col("vec_id") % 2 == parity)
        path = str(tmp_path / f"{name}.parquet")
        papq.write_table(
            pa.Table.from_pylist([r.asDict() for r in part.collect()]), path
        )
        halves[name] = path

    index = str(tmp_path / "index")
    run_build(
        parse_args(["build", "--embeddings", halves["even"], "--index", index]),
        spark,
    )
    n_even = spark.read.parquet(f"{index}/codes").count()

    summary = run_add(
        parse_args(["add", "--embeddings", halves["odd"], "--index", index]),
        spark,
    )
    n_odd = spark.read.parquet(halves["odd"]).count()
    assert summary["n_added"] == n_odd
    codes = spark.read.parquet(f"{index}/codes")
    assert codes.count() == n_even + n_odd

    # the appended rows == encoding the odd half in memory against the
    # STORED quantizer frames (proves no retrain happened)
    expected = encode_frames(
        quantized(spark.read.parquet(halves["odd"])),
        spark.read.parquet(f"{index}/centroids"),
        spark.read.parquet(f"{index}/codebook"),
    )
    got_odd = codes.where(F.col("vec_id") % 2 == 1)
    assert sorted(
        (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
        for r in got_odd.collect()
    ) == sorted(
        (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
        for r in expected.collect()
    )
    spark.catalog.clearCache()

    # an added vector is searchable: self-hit at rank 1 under refine
    queries = quantized(emb_raw).where(F.col("vec_id") % 2 == 1).limit(3)
    hits = search_index_frames(
        queries,
        spark.read.parquet(f"{index}/centroids"),
        spark.read.parquet(f"{index}/codebook"),
        codes,
        nprobe=2,
        rerank=32,
        vectors=quantized(emb_raw),
    ).collect()
    spark.catalog.clearCache()
    top1 = {r["query_id"]: r["neighbor_id"] for r in hits if r["rank"] == 1}
    assert top1 and all(q == n for q, n in top1.items())

    # replaying the same add is a no-op
    replay = run_add(
        parse_args(["add", "--embeddings", halves["odd"], "--index", index]),
        spark,
    )
    assert replay["n_added"] == 0
    assert spark.read.parquet(f"{index}/codes").count() == n_even + n_odd


def test_index_manifest_and_dim_validation(spark, tmp_path):
    """build writes a one-row parameter manifest; search/add validate
    incoming vector dims against it with a clear error instead of a
    silent wrong-length zip inside a join."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    import pytest

    from coa_ocr_simple_spark.jobs.ann_index import run_add

    index = str(tmp_path / "index")
    run_build(
        parse_args(["build", "--embeddings", EMB, "--index", index]), spark
    )
    meta = spark.read.parquet(f"{index}/meta").collect()
    assert len(meta) == 1
    m = meta[0]
    n = spark.read.parquet(EMB).count()
    assert m["dim"] == 64 and m["n_vectors_at_build"] == n

    # a wrong-dim query table fails loudly at the gate, not in the join
    bad = str(tmp_path / "bad.parquet")
    papq.write_table(
        pa.Table.from_pylist(
            [{"vec_id": 1, "embedding": [0.5] * 16}],
            schema=pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
            ),
        ),
        bad,
    )
    with pytest.raises(ValueError, match="dim 16 != index dim 64"):
        run_search(
            parse_args(
                ["search", "--index", index, "--queries", bad,
                 "--output", str(tmp_path / "out")]
            ),
            spark,
        )
    with pytest.raises(ValueError, match="dim 16 != index dim 64"):
        run_add(
            parse_args(["add", "--embeddings", bad, "--index", index]), spark
        )


def test_coarse_lloyd_index_roundtrip_and_metric_consistency(spark, tmp_path):
    """--coarse-lloyd: the manifest records the trained kind, disk
    frames search identically to in-memory frames under the l2q metric,
    every indexed vector self-hits at rank 1 on the rerank path, and
    the add path encodes with the STORED metric (a vector added later
    lands in the same list a build-time encode would give it)."""
    from pyspark.sql import functions as F

    from coa_ocr_simple_spark.jobs.ann_index import _coarse_kind, run_add

    index = str(tmp_path / "index_ck")
    run_build(
        parse_args(
            ["build", "--embeddings", EMB, "--index", index, "--coarse-lloyd"]
        ),
        spark,
    )
    assert _coarse_kind(spark, index) == "lloyd_l2"
    # a URI names the same manifest; only a truly absent one is pre-manifest
    assert _coarse_kind(spark, f"file://{index}") == "lloyd_l2"
    assert _coarse_kind(spark, f"file://{tmp_path}/no_index") == "seed_dot"
    meta = spark.read.parquet(f"{index}/meta").collect()[0]
    assert meta["coarse"] == "lloyd_l2"

    emb = quantized(spark.read.parquet(EMB)).persist()
    emb.count()
    queries = emb.where(F.col("vec_id") % 100 == 0)

    centroids = spark.read.parquet(f"{index}/centroids")
    codebook = spark.read.parquet(f"{index}/codebook")
    codes = spark.read.parquet(f"{index}/codes")
    mem_centroids, mem_codebook, mem_codes = build_index_frames(
        emb, coarse="lloyd_l2"
    )
    for kwargs in (
        {"nprobe": 2, "rerank": 32, "vectors": emb},
        {"nprobe": 1},
    ):
        from_disk = search_index_frames(
            queries, centroids, codebook, codes, coarse="lloyd_l2", **kwargs
        )
        in_mem = search_index_frames(
            queries,
            mem_centroids,
            mem_codebook,
            mem_codes,
            coarse="lloyd_l2",
            **kwargs,
        )
        assert _rows(from_disk) == _rows(in_mem)
    spark.catalog.clearCache()

    # self-hit at rank 1 through the rerank path
    hits = search_index_frames(
        queries,
        centroids,
        codebook,
        codes,
        nprobe=2,
        rerank=32,
        vectors=emb,
    ).collect()
    top = {r["query_id"]: r["neighbor_id"] for r in hits if r["rank"] == 1}
    assert top and all(q == n for q, n in top.items())
    spark.catalog.clearCache()

    # add-path metric consistency: drop the odd-id code rows, re-add the
    # full table — the re-encoded rows must reproduce the build-time
    # rows exactly (same list under the trained router, same codes)
    full_rows = _rows(spark.read.parquet(f"{index}/codes"))
    odd = emb.where(F.col("vec_id") % 2 == 1).select("vec_id")
    kept = spark.read.parquet(f"{index}/codes").join(
        odd, "vec_id", "left_anti"
    )
    kept.write.mode("overwrite").parquet(str(tmp_path / "codes_tmp"))
    spark.read.parquet(str(tmp_path / "codes_tmp")).write.mode(
        "overwrite"
    ).parquet(f"{index}/codes")
    run_add(
        parse_args(["add", "--embeddings", EMB, "--index", index]), spark
    )
    after = _rows(spark.read.parquet(f"{index}/codes"))
    assert after == full_rows
    emb.unpersist()
