"""Stat-guarded zip directory cache for the Python processes Spark starts.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
and every planner call (``pyspark.worker_util.setup_spark_files``). On
CPython < 3.12 that makes every cached ``zipimporter`` re-read its
archive's central directory at once (made lazy upstream in 3.12,
CPython gh-103200). A Spark worker holds about 16 of them, over
``pyspark.zip`` (1,328 entries), the spark-core jar (5,359 entries) and
the py4j zip, so each task paid 115-230 ms before any user code ran.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the last read, and otherwise reuses ``_zip_directory_cache``. A
rewritten archive is still read again; a failed ``stat`` falls through to
the original method. Reads are stamped as they happen; an archive already
read when the guard installs is stamped at install (in a worker, that read
is the task-start one, moments before logflow code is unpickled). Every
Python process that unpickles logflow code imports ``logflow`` and so this
module first: executor workers, the data-source planner daemons and
sessions not built by ``get_spark`` alike. On Python >= 3.12
:func:`install` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_mtime_ns, st_size) stat'ed just before its last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Install the guard once per process (a no-op on Python >= 3.12)."""
    importer = zipimport.zipimporter
    if sys.version_info >= (3, 12) or getattr(importer.invalidate_caches, "guarded", False):
        return
    read_directory = zipimport._read_directory
    invalidate = importer.invalidate_caches

    def stamped_read(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            _stamps[archive] = stamp
        return files

    def guarded_invalidate(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _stamps.get(self.archive) != stamp:
            return invalidate(self)
        self._files = files

    guarded_invalidate.guarded = True
    for archive in zipimport._zip_directory_cache:
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp
    zipimport._read_directory = stamped_read
    importer.invalidate_caches = guarded_invalidate


install()
