"""coa_ocr_simple_spark — a from-scratch, PySpark-native reimplementation of
the document-extraction capabilities of pbrose82/coa-ocr-simple.

Layout (SURVEY.md §7):
- ``core``      pure-Python frozen reference semantics (also the test oracle)
- ``functions`` the Arrow UDF factory + Spark schemas
- ``operators`` span assembly, skew salting, checkpoint/resume, dedup, text ops
- ``sources``   table readers/writers (Iceberg when available, Parquet fallback)
- ``plans``     end-to-end DataFrame plan builders
- ``jobs``      spark-submit entry points
- ``session``   the one SparkSession factory and its SQL defaults
- ``fixtures``  seed-fixed synthetic spans/media generators (FIXTURES.md)
"""

from ._worker_imports import install as _install_worker_imports

__version__ = "0.1.0"

# every UDF the package ships references it, so a Python worker runs this
# before its first batch (see _worker_imports)
_install_worker_imports()
