"""Stat-stamped ``zipimporter.invalidate_caches`` for Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
EVERY task (``pyspark/worker_util.py:setup_spark_files``, after it adds
the task's ``--py-files``/``addPyFile`` paths to ``sys.path``). That call
reaches every finder in ``sys.path_importer_cache``, and on CPython 3.11
and 3.12 ``zipimporter.invalidate_caches`` eagerly re-reads its
archive's whole central directory. A worker that imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1.3k entries) holds a dozen or
more zipimporters over that one archive, so each task re-parses the
same directory a dozen times before the UDF runs. On small tasks this
fixed cost dominated the worker's CPU: a worker-side profile put
``zipimport._read_directory`` at 87 of 207 profiled seconds of a crawl.
CPython 3.13 made the re-read lazy, so there the guard is not installed.

The guard keeps stock semantics by stamping each archive with
``(st_size, st_mtime_ns, st_ino)`` taken just BEFORE its directory is
read. A later invalidation re-reads only when the archive's current
stamp differs (it was rewritten or replaced, e.g. a re-shipped
``--py-files`` archive), when the archive is gone (the stock path then
empties the importer's file table), or when the directory has left
``zipimport._zip_directory_cache``. Otherwise the importer is pointed at
the cached directory, which is exactly what the stock re-read would
have produced. Stamping before the read is conservative: an archive
rewritten during the read carries a newer stamp and is read again.

The package installs the guard on import (``wormpy_spark/__init__.py``).
The crawl's UDFs reference module-level ``wormpy_spark`` functions,
which pickle by reference, so a worker's first package task imports the
package and the guard lasts for the worker's life (PySpark reuses
workers). The guard has no switch. Installing twice is a no-op.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> its stamp when its directory was last read; shared by
# all zipimporters of one archive, like zipimport's own directory cache
_stamps: dict[str, tuple[int, int, int]] = {}
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def _invalidate_caches(self) -> None:
    archive = self.archive
    stamp = _stamp(archive)
    if stamp is not None and _stamps.get(archive) == stamp:
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None:
            self._files = files
            return
    _stock_invalidate_caches(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> None:
    """Install the guard (CPython < 3.13 only; idempotent) and stamp
    the archives of the zipimporters already in
    ``sys.path_importer_cache`` with one fresh read each, so the next
    task's invalidation is already free."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches is _invalidate_caches:
        return
    cls.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
