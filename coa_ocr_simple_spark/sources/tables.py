"""Table IO — Iceberg when a catalog is configured, Parquet fallback.

The production target is an Iceberg table of interleaved text+media spans
(BASELINE.json north_rule).  The sandbox has no iceberg-spark-runtime jar,
so ``TableIO`` resolves the format at runtime: identifiers that look like
catalog tables (``db.table``) go through the Iceberg DataFrameWriterV2
(``writeTo(...).append()``), bare paths read/write Parquet.  Either way
the plan above it is identical — the scan still gets column pruning and
filter pushdown from the DataSource V2 interface.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def _is_path(identifier: str) -> bool:
    return "/" in identifier or identifier.endswith(".parquet")


def _is_data_file(name: str) -> bool:
    return name.endswith(".parquet") or name.startswith("part-")


def _listing(spark: SparkSession, path: str) -> bool | list[str]:
    """What ``path`` holds on the filesystem Spark reads and writes it on:
    False when absent, True for a file, the entry names for a directory.

    The path goes through the session's Hadoop ``FileSystem``, so a path
    with no scheme resolves against ``fs.defaultFS`` and the filesystem's
    working directory exactly as a Spark read or write does; ``os.path``
    would read an HDFS or S3 path, or any URI, as absent."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    try:
        statuses = fs.listStatus(jpath)
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            return False
        raise
    # listing a file gives the file's own status
    if len(statuses) == 1 and statuses[0].getPath().equals(fs.makeQualified(jpath)):
        return True
    return [status.getPath().getName() for status in statuses]


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether the file or directory ``path`` exists where Spark would
    read it."""
    return _listing(spark, path) is not False


class TableIO:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def read(self, identifier: str, schema=None) -> DataFrame:
        """Parquet by default; ``.jsonl``/``.json`` paths read as JSON
        Lines (the common raw-ingest format of a training-data pipeline).
        Pass ``schema`` for a path read at scale: it yields just those
        columns with no inference job (JSON inference scans the data once,
        which is fine for a sample and wrong for 100 TB).  A catalog table
        keeps its own schema."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        if identifier.endswith((".jsonl", ".json")):
            # DROPMALFORMED: a corrupt line must neither kill a 10^12-doc
            # job nor become a phantom all-null document (PERMISSIVE's
            # default does the latter — caught by probe).  Real clusters
            # wanting an audit trail add badRecordsPath instead.
            return reader.option("mode", "DROPMALFORMED").json(identifier)
        if _is_path(identifier):
            return reader.parquet(identifier)
        return self.spark.read.table(identifier)

    def append(self, df: DataFrame, identifier: str) -> None:
        if _is_path(identifier):
            df.write.mode("append").parquet(identifier)
        else:
            try:
                df.writeTo(identifier).append()
            except Exception:
                # table does not exist yet: create-or-replace v2 path
                df.writeTo(identifier).createOrReplace()

    def appended(self, df: DataFrame, identifier: str) -> DataFrame:
        """Append ``df`` and return the rows this append wrote, read back
        with ``df``'s own schema, so no job infers it.  For a path these
        are the data files the append added: the listing before it against
        the listing after it.  A catalog table reads back whole, every
        earlier append included: the appended Iceberg snapshot would
        give just this append, but no Iceberg runtime runs here
        (ICEBERG.md)."""
        if not _is_path(identifier):
            self.append(df, identifier)
            return self.read(identifier)
        before = self._data_files(identifier)
        self.append(df, identifier)
        added = sorted(self._data_files(identifier) - before)
        return self.spark.read.schema(df.schema).parquet(*added)

    def _data_files(self, path: str) -> set[str]:
        found = _listing(self.spark, path)
        if isinstance(found, bool):
            return set()
        return {f"{path.rstrip('/')}/{name}" for name in found if _is_data_file(name)}

    def overwrite(self, df: DataFrame, identifier: str) -> None:
        """Replace the target's contents.  The right mode for re-runnable
        control outputs (manifests, reports): append-on-rerun accumulates
        stale rows alongside the new ones in a path-based parquet target,
        which breaks any consumer that reads the whole directory."""
        if _is_path(identifier):
            df.write.mode("overwrite").parquet(identifier)
        else:
            df.writeTo(identifier).createOrReplace()

    def exists(self, identifier: str) -> bool:
        """A catalog table, a file, or a directory holding a data file; a
        directory with none, as a write that never committed leaves it,
        reads as absent."""
        if not _is_path(identifier):
            return self.spark.catalog.tableExists(identifier)
        found = _listing(self.spark, identifier)
        if isinstance(found, bool):
            return found
        return any(_is_data_file(name) for name in found)

    def read_if_exists(self, identifier: str, schema=None) -> DataFrame | None:
        return self.read(identifier, schema) if self.exists(identifier) else None
