"""Keep unchanged zip-import directories across the tasks of a Spark worker.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13 that makes
every ``zipimport.zipimporter`` re-read its archive's central directory in
pure Python.  A worker holds one importer per package it imported from a
zip: a dozen over ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries),
more over py4j's zip, a Spark jar and a ``--py-files`` package zip.  The
re-read took 185 ms of every Python task, measured on a 4-core host.
CPython 3.13 made ``zipimporter.invalidate_caches`` lazy.

``install()`` runs when the package is imported.  Only inside a Spark
Python worker on CPython < 3.13 does it wrap
``zipimporter.invalidate_caches``, once per process, so that an archive's
directory is re-read only when its stat identity differs from the one
taken before the last read.  An unchanged zip has the same directory; a
rewritten or re-shipped zip is re-read, and a missing one is handled by the
stdlib body.  Reused workers (``spark.python.worker.reuse``, the default)
keep the wrapper, so every later task of every Python stage skips the
re-read.  The driver and plain Python processes are never touched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (stat identity taken before the read, directory read)
_last_read: dict[str, tuple[tuple[int, ...], dict]] = {}


def _stat_identity(path: str) -> tuple[int, ...] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    # ctime as well: an in-place rewrite that restores size and mtime
    # (cp -p of a reproducible build) still moves it.
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    identity = _stat_identity(archive)
    last = _last_read.get(archive)
    if last is not None and last[0] == identity:
        self._files = zipimport._zip_directory_cache[archive] = last[1]
        return
    _stdlib_invalidate_caches(self)
    # A failed read leaves no cache entry and records nothing; an older
    # record can match again only if the archive is the one it was read at.
    files = zipimport._zip_directory_cache.get(archive)
    if identity is not None and files is self._files:
        _last_read[archive] = (identity, files)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` if this process is a Spark
    Python worker on CPython < 3.13."""
    if sys.version_info >= (3, 13):
        return
    # A worker has pyspark imported and a task context set while it
    # unpickles the task's functions; looking it up in sys.modules keeps
    # pyspark out of processes that never imported it.
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
