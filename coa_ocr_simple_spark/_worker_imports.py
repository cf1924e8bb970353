"""Keep Python UDF workers from re-parsing zip archives that have not changed.

At the start of every task, a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython < 3.12 that calls ``zipimport.zipimporter.invalidate_caches`` on
every cached zipimporter, and each call re-parses its archive's whole
central directory.  The workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (about 1300 entries) and keep one
zipimporter per imported package inside an archive, most of them on that
one: a worker held 16, so every task re-parsed 16 directories, which cost
more worker CPU than the UDF bodies of a small extraction pass.  CPython
3.12 made the re-read lazy.

``install()`` wraps the method so that an archive whose
``(st_mtime_ns, st_size)`` still matches the stamp taken when its cached
directory was last read reuses that directory.  A changed, replaced or new
archive (an ``addPyFile`` zip included) is re-read exactly as before.  On
Python >= 3.12 ``install()`` does nothing.  The package installs it on
import, and every UDF it ships references the package, so each worker
installs it before its first batch.
"""

from __future__ import annotations

import os
import sys
import zipimport
from types import SimpleNamespace

_original = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) of the archive when its directory
# in zipimport._zip_directory_cache was last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _reread(importer) -> None:
    """Re-read the archive's directory with the stdlib method and stamp it.
    The stamp is taken before the read, so a write racing the read shows
    as a changed stamp next time."""
    stamp = _stamp(importer.archive)
    _original(importer)
    if stamp is not None and importer.archive in zipimport._zip_directory_cache:
        _stamps[importer.archive] = stamp
    else:
        _stamps.pop(importer.archive, None)


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path, unless it is unchanged."""
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _reread(self)


def install() -> None:
    """Install the wrapper; a no-op on Python >= 3.12 or when installed."""
    if sys.version_info >= (3, 12):
        return
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    # the directories already cached were read at an unknown time: read
    # each once more so that every stamp matches the directory it guards
    for archive in list(zipimport._zip_directory_cache):
        _reread(SimpleNamespace(archive=archive))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
