"""Cheap ``importlib.invalidate_caches()`` for zip archives on sys.path.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``). Before
Python 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory in pure Python, and a worker caches
one importer per package directory of ``pyspark.zip``, the py4j zip and
the Spark jar: about 16 directory reads, 128-252 ms per task on a
4-vCPU host, before any row is touched.

:func:`install` swaps in a ``zipimporter`` whose ``invalidate_caches``
re-reads only when the archive's ``(st_mtime_ns, st_size)`` changed
(a deleted archive is handled as the stock class does). It is
idempotent and does nothing on Python >= 3.13, whose
``invalidate_caches`` only drops the cached directory.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatZipImporter(zipimport.zipimporter):
    """``zipimporter`` that skips the directory re-read when the archive
    is unchanged since its directory was loaded."""

    def __init__(self, path):
        super().__init__(path)
        self._stat = _stat_key(self.archive)

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is None or key != self._stat:
            super().invalidate_caches()
            self._stat = key


def install() -> None:
    """Route new and cached zip path entries through ``StatZipImporter``."""
    if sys.version_info >= (3, 13):
        return
    sys.path_hooks[:] = [
        StatZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                sys.path_importer_cache[entry] = StatZipImporter(entry)
            except zipimport.ZipImportError:
                pass  # archive gone: keep the stock importer
