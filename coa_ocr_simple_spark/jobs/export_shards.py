"""spark-submit entry point for the deterministic sharded training
export: the last step of a corpus build.

    python -m coa_ocr_simple_spark.jobs.export_shards \\
        --input /path/curated.parquet --output /path/shards \\
        [--manifest /path/manifest] [--n-shards 64]

Writes shard_id=NN/ parquet directories via one repartition on the
md5-prefix shard key + a per-partition sort (never a global sort) —
byte-deterministic: two runs over the same input produce identical
shard contents, so a trainer's data order is reproducible.  The
manifest (shard_id, n_docs, checksum, first_key, last_key) is the
small control table the trainer (or a resumed export) verifies shard
files against without re-reading the corpus; the job's summary also
cross-checks the written files against it before reporting success.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..plans.driver_queries_mix import _N_SHARDS, shard_manifest, write_sharded
from ..sources.tables import TableIO
from . import _cli


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    docs = io.read(args.input)

    write_sharded(docs, args.output, n_shards=args.n_shards)
    manifest = shard_manifest(docs, n_shards=args.n_shards).persist()
    expected = {r["shard_id"]: r["n_docs"] for r in manifest.collect()}
    if args.manifest:
        # overwrite, not append: shard data is itself written with
        # overwrite semantics, so a re-run must replace the manifest too —
        # stale rows would break the trainer-verifies-against-manifest
        # contract for any consumer reading the whole directory
        io.overwrite(manifest, args.manifest)

    # verify the written files against the manifest (the same check a
    # trainer runs) before claiming success
    on_disk = {
        r["shard_id"]: r["n"]
        for r in spark.read.parquet(args.output)
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if on_disk != expected:
        raise RuntimeError(
            f"shard verification failed: disk={on_disk} manifest={expected}"
        )
    return {
        "n_docs": sum(expected.values()),
        "n_shards_written": len(expected),
        "n_shards": args.n_shards,
        "verified": True,
    }


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="deterministic sharded training export + manifest"
    )
    p.add_argument("--input", required=True, help="curated corpus table/path")
    p.add_argument("--output", required=True, help="shard root directory")
    p.add_argument("--manifest", default=None, help="manifest table/path")
    p.add_argument("--n-shards", type=int, default=_N_SHARDS)
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-export-shards", parse_args, run, argv)


if __name__ == "__main__":
    main()
