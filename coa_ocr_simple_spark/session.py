"""The one place a ``SparkSession`` is built.

Every job, the test suite, the oracle gate, ``bench.py`` and perfbench start
Spark through ``make_session``, so parity and speed are proven under the SQL
conf the jobs ship with.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

SQL_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # extraction stages are CPU-bound Arrow UDFs over few bytes; AQE's
    # size-based coalescing would serialize them onto too few cores
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # oracle parity must not depend on the host JVM's default zone
    # (events.ts is timestamp-NTZ; see driver_queries_ext.event_funnel)
    "spark.sql.session.timeZone": "UTC",
}


def make_session(
    app: str,
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: list[str] | None = None,
) -> SparkSession:
    """Get or create the session with ``SQL_DEFAULTS``.  ``extra_conf``
    holds ``key=value`` strings, as spark-submit's ``--conf``; they are
    applied last, so they override the defaults."""
    builder = SparkSession.builder.appName(app).config(map=SQL_DEFAULTS)
    if master:
        builder = builder.master(master)
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for kv in extra_conf or []:
        key, sep, value = kv.partition("=")
        if not sep or not key:
            raise SystemExit(f"--conf expects key=value, got: {kv!r}")
        builder = builder.config(key, value)
    return builder.getOrCreate()
