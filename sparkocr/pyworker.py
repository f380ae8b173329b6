"""Cheap zip-import invalidation for the Python workers that run sparkocr.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``), and Spark always puts
``$SPARK_HOME/python/lib/pyspark.zip`` first on the worker's
``PYTHONPATH``, so a worker holds one ``zipimporter`` per package path it
has imported from that archive (16 for a sparkocr task). On CPython up to
3.12, ``zipimporter.invalidate_caches`` re-parses the archive's whole
central directory in pure Python, once per importer: 0.15-0.20 CPU-s per
task for a directory that has not changed, whatever the task's row count.

``install()`` replaces that method with one that reads an archive's
directory only when the archive's stat stamp differs from the stamp
taken before its last read, and shares the read with every importer of
the archive through ``zipimport._zip_directory_cache``. The result is the
stock one: after invalidation an importer's ``_files`` is the archive's
current directory, and a missing or corrupt archive gives ``{}`` and
drops its cache entry. CPython 3.13 invalidates lazily itself, so there
``install()`` does nothing.

pyspark reuses a worker for later tasks (``spark.python.worker.reuse``,
on by default), so a worker that has unpickled a sparkocr function pays
the re-read once, not once per task.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (stat stamp taken before the read, the directory read);
#: the directory counts as current while it is still the object in
#: ``zipimport._zip_directory_cache`` and the stamp still matches
_read_at: dict[str, tuple[tuple[int, int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def invalidate_caches(self) -> None:
    """Reload the file data of the archive path, if the archive changed."""
    archive = self.archive
    cache = zipimport._zip_directory_cache
    stamp = _stamp(archive)
    seen = _read_at.get(archive)
    files = cache.get(archive)
    if seen is not None and seen[0] == stamp and seen[1] is files:
        self._files = files
        return
    try:
        # looked up per call, not bound at import, so a test can count reads
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        cache.pop(archive, None)
        _read_at.pop(archive, None)
        self._files = {}
        return
    cache[archive] = files
    if stamp is None:
        _read_at.pop(archive, None)
    else:
        _read_at[archive] = (stamp, files)
    self._files = files


def install() -> None:
    """Put ``invalidate_caches`` on ``zipimport.zipimporter``. A no-op on
    CPython >= 3.13, when zipimport lacks the private names it relies on,
    and when it is already installed."""
    if sys.version_info >= (3, 13):
        return
    if not all(hasattr(zipimport, n) for n in ("_read_directory", "_zip_directory_cache")):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
