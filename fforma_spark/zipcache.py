"""Keep a warm PySpark worker from re-reading unchanged zip archives.

Before every task, even in a reused worker, PySpark calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``
``setup_spark_files``). On CPython 3.10-3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` parse its
archive's whole central directory again, one importer per package
directory: pyspark.zip, py4j, the Spark jars on the workers' PYTHONPATH
and the shipped ``fforma_spark`` zip. Measured on a 4-core host that is
150-250 ms of pure-Python CPU per task, whatever the task's data.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a
version that re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` differs from what it was at that archive's last read;
otherwise the importer keeps the shared ``zipimport._zip_directory_cache``
entry. A changed archive is still re-read, so a module added to it still
imports. CPython 3.13 re-reads lazily on its own and is left alone, as is
every process that is not a PySpark worker. Stdlib only: the package's
``__init__`` runs it, and every UDF body imports the package.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_ino, st_size, st_mtime_ns) at its last read
_read_stat: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_stat.get(self.archive) == key:
        self._files = files
        return
    # stat taken before the read: an archive rewritten during the read
    # differs next time and is read again
    _ORIGINAL(self)
    if key is not None:
        _read_stat[self.archive] = key


def install() -> bool:
    """Install the stat check in a PySpark worker on CPython < 3.13;
    returns whether it is installed. Idempotent.

    Archives already in the directory cache are recorded as read now:
    in a worker the package is first imported by a task's UDF, just
    after that task's ``setup_spark_files`` re-read every archive."""
    if "pyspark.worker" not in sys.modules or sys.version_info >= (3, 13):
        return False
    if zipimport.zipimporter.invalidate_caches is not _invalidate_caches:
        for archive in list(zipimport._zip_directory_cache):
            key = _stat_key(archive)
            if key is not None:
                _read_stat[archive] = key
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
