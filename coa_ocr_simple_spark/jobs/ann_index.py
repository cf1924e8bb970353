"""spark-submit CLI for the persisted IVF-PQ index (build / search).

    python -m coa_ocr_simple_spark.jobs.ann_index build \\
        --embeddings /path/embeddings.parquet --index /path/index

    python -m coa_ocr_simple_spark.jobs.ann_index add \\
        --embeddings /path/new_embeddings.parquet --index /path/index

    python -m coa_ocr_simple_spark.jobs.ann_index search \\
        --index /path/index --queries /path/queries.parquet \\
        --output /path/hits [--nprobe 2] [--topk 5] \\
        [--rerank 32 --vectors /path/embeddings.parquet] \\
        [--exclude-self]

``build`` writes three parquet tables under --index: centroids/,
codebook/, codes/ (see plans/ann_index.py for the layout and the scale
shape).  ``add`` encodes NEW vectors with the STORED quantizer (no
retrain — FAISS's add() contract; already-present vec_ids are skipped)
and appends their code rows.  ``search`` loads them and answers a query table of
(vec_id, embedding) rows; --rerank refines the ADC shortlist by exact
integer dot product against --vectors (the table the index was built
from).  Both outputs are overwrite-mode: re-runs replace, never
accumulate.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.ann_index import (
    build_index_frames,
    encode_frames,
    quantized,
    search_index_frames,
)
from ..sources.tables import TableIO, path_exists
from . import _cli


def run_build(args: argparse.Namespace, spark: SparkSession) -> dict:
    from ..plans.driver_queries_ext import (
        _IVF_CENTROID_MOD,
        _PQ_DIM,
        _PQ_K,
        _PQ_LLOYD_Q,
        _PQ_M,
    )

    io = TableIO(spark)
    emb = quantized(io.read(args.embeddings)).persist()
    emb.count()  # seed scan, Lloyd and assignment all consume it
    dim = emb.select(F.size("qv").alias("d")).limit(1).collect()[0]["d"]
    if dim != _PQ_DIM:
        raise ValueError(
            f"embedding dim {dim} != the index family's {_PQ_DIM}"
        )
    coarse = "lloyd_l2" if args.coarse_lloyd else "seed_dot"
    centroids, codebook, codes = build_index_frames(emb, coarse=coarse)
    io.overwrite(centroids, f"{args.index}/centroids")
    io.overwrite(codebook, f"{args.index}/codebook")
    io.overwrite(codes, f"{args.index}/codes")
    summary = {
        "n_vectors": codes.count(),
        "n_centroids": centroids.count(),
        "codebook_rows": codebook.count(),
        "coarse": coarse,
    }
    # one-row parameter manifest: consumers validate compatibility
    # instead of failing inside a join (the shard_manifest idea)
    meta = spark.createDataFrame(
        [
            (
                dim,
                _PQ_M,
                _PQ_K,
                _PQ_LLOYD_Q,
                _IVF_CENTROID_MOD,
                summary["n_vectors"],
                coarse,
            )
        ],
        "dim long, pq_m long, pq_k long, lloyd_q long, "
        "centroid_mod long, n_vectors_at_build long, coarse string",
    )
    io.overwrite(meta, f"{args.index}/meta")
    emb.unpersist()
    codebook.unpersist()
    return summary


def _coarse_kind(spark: SparkSession, index: str) -> str:
    """The routing metric the index was built with, from the meta
    manifest — mixing metrics silently misroutes, so add/search must
    use exactly the build's kind.  Indexes from before the manifest
    (or before the `coarse` column) are by construction seed_dot.

    Only a genuinely ABSENT manifest falls back (round-6 advisor item):
    a transient read failure on a lloyd_l2 index must raise, not
    silently encode new vectors under the wrong metric — that would
    permanently place codes in lists the lloyd-routed search never
    probes.  ``path_exists`` looks where Spark reads, so a URI or HDFS
    index is not mistaken for a pre-manifest one."""
    meta_path = f"{index}/meta"
    if not path_exists(spark, meta_path):
        return "seed_dot"  # pre-manifest index
    row = spark.read.parquet(meta_path).collect()[0]
    return row["coarse"] if "coarse" in row.asDict() else "seed_dot"


def _check_dim(spark: SparkSession, index: str, frame, what: str) -> None:
    """Validate an incoming vector frame against the index manifest —
    a clear error instead of a silent wrong-length zip inside a join.
    Indexes built before the manifest existed skip the check."""
    try:
        meta = spark.read.parquet(f"{index}/meta").collect()[0]
    except Exception:
        return
    row = frame.select(F.size("qv").alias("d")).limit(1).collect()
    if row and row[0]["d"] != meta["dim"]:
        raise ValueError(
            f"{what} dim {row[0]['d']} != index dim {meta['dim']}"
        )


def run_add(args: argparse.Namespace, spark: SparkSession) -> dict:
    """Incremental add: encode NEW vectors with the STORED quantizer
    (no retrain — FAISS's add() contract) and append their code rows.
    vec_ids already present are skipped (a replay or an overlapping
    batch must not corrupt search with duplicate candidates)."""
    io = TableIO(spark)
    centroids = io.read(f"{args.index}/centroids")
    codebook = io.read(f"{args.index}/codebook")
    existing = io.read(f"{args.index}/codes").select("vec_id")
    incoming = quantized(io.read(args.embeddings))
    _check_dim(spark, args.index, incoming, "add embeddings")
    new = incoming.join(existing, "vec_id", "left_anti")
    new = new.persist()
    n_new = new.count()  # eager fill: assignment + codes consume it
    codes_new = encode_frames(
        new, centroids, codebook, coarse=_coarse_kind(spark, args.index)
    ).persist()
    n_added = codes_new.count()
    if n_added:
        io.append(codes_new, f"{args.index}/codes")
    summary = {"n_input_new": n_new, "n_added": n_added}
    new.unpersist()
    codes_new.unpersist()
    return summary


def run_compact(args: argparse.Namespace, spark: SparkSession) -> dict:
    """Fold the streaming-ingest area (codes_stream/batch=N, written by
    streaming/ann_ingest_stream.py) into the bulk codes table and clear
    it — the nightly maintenance run that keeps the base table the
    single source of truth.  vec_ids already in the base are dropped
    (the stream may have re-ingested a bulk vector); the stream area is
    removed only AFTER the appended rows are materialized.  A kill
    between the append and the removal needs no commit marker: the
    re-run's base anti-join appends nothing twice."""
    import shutil

    io = TableIO(spark)
    stream_dir = f"{args.index}/codes_stream"
    if not path_exists(spark, stream_dir):
        return {"n_compacted": 0, "stream_area": "absent"}
    base = io.read(f"{args.index}/codes")
    moved = (
        spark.read.parquet(stream_dir)
        .select(*base.columns)
        .dropDuplicates(["vec_id"])
        .join(base.select("vec_id"), "vec_id", "left_anti")
        .persist()
    )
    n = moved.count()  # materialize BEFORE touching either directory
    if n:
        io.append(moved, f"{args.index}/codes")
    moved.unpersist()
    shutil.rmtree(stream_dir)
    return {"n_compacted": n, "stream_area": "cleared"}


def run_search(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    centroids = io.read(f"{args.index}/centroids")
    codebook = io.read(f"{args.index}/codebook")
    if args.include_stream:
        from ..streaming.ann_ingest_stream import ingested_codes

        codes = ingested_codes(spark, args.index)
    else:
        codes = io.read(f"{args.index}/codes")
    queries = quantized(io.read(args.queries))
    _check_dim(spark, args.index, queries, "query")
    vectors = quantized(io.read(args.vectors)) if args.vectors else None
    hits = search_index_frames(
        queries,
        centroids,
        codebook,
        codes,
        nprobe=args.nprobe,
        topk=args.topk,
        rerank=args.rerank,
        vectors=vectors,
        exclude_self=args.exclude_self,
        coarse=_coarse_kind(spark, args.index),
    ).persist()
    io.overwrite(hits, args.output)
    summary = {
        "n_queries": hits.select("query_id").distinct().count(),
        "n_hits": hits.count(),
        "nprobe": args.nprobe,
        "rerank": args.rerank,
    }
    hits.unpersist()
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="persisted IVF-PQ index")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--embeddings", required=True)
    b.add_argument("--index", required=True)
    b.add_argument(
        "--coarse-lloyd",
        action="store_true",
        help="train the coarse quantizer (full-vector exact-integer "
        "k-means, min-L2 routing) instead of seed centroids + max-dot",
    )

    a = sub.add_parser("add")
    a.add_argument("--embeddings", required=True)
    a.add_argument("--index", required=True)

    c = sub.add_parser("compact")
    c.add_argument("--index", required=True)

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--queries", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--nprobe", type=int, default=2)
    s.add_argument("--topk", type=int, default=5)
    s.add_argument("--rerank", type=int, default=0)
    s.add_argument("--vectors", default=None)
    s.add_argument("--exclude-self", action="store_true")
    s.add_argument(
        "--include-stream",
        action="store_true",
        help="also search vectors in the streaming-ingest area "
        "(codes_stream) not yet compacted into the bulk table",
    )

    for q in (b, a, c, s):
        _cli.add_session_args(q)
    return p.parse_args(argv)


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    fn = {
        "build": run_build,
        "add": run_add,
        "compact": run_compact,
        "search": run_search,
    }[args.cmd]
    return fn(args, spark)


def main(argv=None) -> None:
    _cli.main("coa-ann-index", parse_args, run, argv)


if __name__ == "__main__":
    main()
