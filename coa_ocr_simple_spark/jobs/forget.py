"""spark-submit entry point for delete propagation (right-to-be-
forgotten / takedown lists): remove a set of document ids from the
corpus AND from every derived artifact that could still serve them —
the persisted ANN index's code rows (bulk + streaming-ingest area) and
the embeddings table the rerank path fetches raw vectors from.

    python -m coa_ocr_simple_spark.jobs.forget \\
        --delete-list /path/deletes.parquet \\
        [--documents /path/documents.parquet] \\
        [--embeddings /path/embeddings.parquet] \\
        [--index /path/index] \\
        [--report /path/forget_report]

The delete list is a parquet table with a ``doc_id`` column (vec_ids
share the id domain).  Every touched table is rewritten IN PLACE through
``sources.commit.swap`` in its parent directory — Spark cannot overwrite
a path it is reading, and a half-written rewrite must never be visible
under the original path.  Re-running with the same list is a no-op
(idempotent: everything is an anti-join).

Scale shape: the delete list broadcasts (takedown lists are thousands,
not billions); each rewrite is one scan + broadcast anti-join + write.
The report is the small control table auditors keep: one row per
requested id with where it was found.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import commit
from ..sources.tables import TableIO, _is_path
from . import _cli


def _split(path: str) -> tuple[str, str]:
    """(parent directory, entry name) of a path-based table — the root
    and the name of its commit swap.

    PATH targets only: a catalog (Iceberg) table would instead take a
    transactional ``DELETE FROM t WHERE id IN (...)`` and needs no
    swap — that branch activates with the Iceberg runtime jar
    (ICEBERG.md)."""
    if not _is_path(path):
        raise ValueError(
            f"forget rewrites path-based tables; got identifier {path!r} "
            "(catalog tables want a transactional DELETE instead)"
        )
    parent, name = os.path.split(path.rstrip("/"))
    return parent or ".", name


def _scrub(
    io: TableIO, path: str, key: str, ids: DataFrame
) -> int:
    """Anti-join rewrite of one parquet path (a directory or a
    single-file table, which becomes a directory); returns rows
    removed."""
    root, name = _split(path)
    commit.recover(root)
    before = io.read(path)
    n_before = before.count()
    kept = before.join(
        F.broadcast(ids.withColumnRenamed("doc_id", key)), key, "left_anti"
    )
    commit.swap(root, name, [name], lambda staged: io.overwrite(kept, staged))
    return n_before - io.read(path).count()


def run(args: argparse.Namespace, spark: SparkSession) -> dict:
    io = TableIO(spark)
    ids = (
        io.read(args.delete_list)
        .select("doc_id")
        .distinct()
        .persist()
    )
    n_ids = ids.count()
    summary: dict = {"n_delete_ids": n_ids}

    # presence is collected EAGERLY before each rewrite (a lazy frame
    # would re-read the already-scrubbed path); delete lists are small
    # by the job's contract (they broadcast), so the collect is cheap
    def _present(path: str, key: str) -> set:
        commit.recover(_split(path)[0])
        return {
            r[key]
            for r in io.read(path)
            .join(
                F.broadcast(ids.withColumnRenamed("doc_id", key)),
                key,
                "left_semi",
            )
            .select(key)
            .collect()
        }

    presence: dict[str, set] = {}

    if args.documents:
        presence["documents"] = _present(args.documents, "doc_id")
        summary["n_removed_documents"] = _scrub(
            io, args.documents, "doc_id", ids
        )

    if args.embeddings:
        presence["embeddings"] = _present(args.embeddings, "vec_id")
        summary["n_removed_embeddings"] = _scrub(
            io, args.embeddings, "vec_id", ids
        )

    if args.index:
        presence["index_codes"] = _present(f"{args.index}/codes", "vec_id")
        summary["n_removed_index_codes"] = _scrub(
            io, f"{args.index}/codes", "vec_id", ids
        )
        # streaming-ingest area: each batch=N subdirectory is its own
        # parquet root (flat files + partition dirs must not mix), so
        # scrub them one by one — finishing first any swap a crash cut
        # short (its dir would be missing from the listing below)
        stream_dir = f"{args.index}/codes_stream"
        n_stream = 0
        if os.path.isdir(stream_dir):
            commit.recover(stream_dir)
            for name in sorted(os.listdir(stream_dir)):
                if name.startswith("batch="):
                    n_stream += _scrub(
                        io, f"{stream_dir}/{name}", "vec_id", ids
                    )
        summary["n_removed_index_stream_codes"] = n_stream

        # seed_dot indexes store RAW seed vectors as centroids, keyed by
        # the seed's vec_id — a deleted id that seeded a list would
        # otherwise keep its full embedding (and id) on disk,
        # contradicting the right-to-be-forgotten contract (round-6
        # advisor item).  Scrub them too; the orphaned list's members
        # become unreachable until a rebuild, so the summary says so.
        # lloyd_l2 centroids are cluster MEANS (no single document's
        # vector) and are left untouched.
        from .ann_index import _coarse_kind

        if _coarse_kind(spark, args.index) == "seed_dot":
            presence["index_centroids"] = _present(
                f"{args.index}/centroids", "centroid_id"
            )
            n_cents = _scrub(
                io, f"{args.index}/centroids", "centroid_id", ids
            )
            summary["n_removed_index_centroids"] = n_cents
            if n_cents:
                # the scrubbed seeds' inverted lists are no longer
                # probed by any search — recall is degraded until
                # `ann_index build` is re-run over the surviving corpus
                summary["index_rebuild_recommended"] = True

    if args.report:
        # one audit row per requested id: where it was actually found
        # (all-zero rows prove the id was already gone — the receipt an
        # idempotent re-run produces)
        arts = sorted(presence)
        rows = [
            tuple(
                [rid] + [1 if rid in presence[a] else 0 for a in arts]
            )
            for rid in sorted(r["doc_id"] for r in ids.collect())
        ]
        schema = "doc_id long, " + ", ".join(f"in_{a} long" for a in arts)
        io.overwrite(spark.createDataFrame(rows, schema), args.report)
        summary["report"] = args.report

    ids.unpersist()
    return summary


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="delete-list propagation")
    p.add_argument("--delete-list", required=True)
    p.add_argument("--documents", default=None)
    p.add_argument("--embeddings", default=None)
    p.add_argument("--index", default=None)
    p.add_argument("--report", default=None)
    _cli.add_session_args(p)
    return p.parse_args(argv)


def main(argv=None) -> None:
    _cli.main("coa-forget", parse_args, run, argv)


if __name__ == "__main__":
    main()
