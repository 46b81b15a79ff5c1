"""Stamp-checked ``zipimporter`` invalidation for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython < 3.13
each ``zipimport.zipimporter`` on the path answers by re-parsing the whole
central directory of its archive. A reused worker holds 16 of them
(``pyspark.zip`` and its sub-packages, the spark-core jar, py4j): 170–285 ms
per task on a 4-core host before any row reaches a kernel. CPython 3.13
made the re-read lazy, so there this module does nothing.

``install()`` makes an importer re-read its archive only when the file's
``(st_mtime_ns, st_size)`` differs from the stamp taken at that importer's
last read, and falls back to the re-read when the stat fails. A rewritten
archive still changes its stamp and is re-read, a new path entry still
gets a fresh importer, and ``FileFinder`` invalidation is untouched.
Importers already live at install time are stamped as they stand: in a
worker they were re-read by this task's own invalidation moments before
the engine was imported.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport

# zipimporter -> (st_mtime_ns, st_size) of its archive at its last read
_STAMPS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    try:
        stamp = _stamp(self.archive)
    except OSError:
        _STAMPS.pop(self, None)
        _reread(self)
        return
    if _STAMPS.get(self) != stamp:
        _reread(self)
        _STAMPS[self] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` and stamp the live
    importers; True when the patch is (already) in place."""
    if sys.version_info >= (3, 13):
        return False
    if zipimport.zipimporter.invalidate_caches is not _invalidate_caches:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        for imp in list(sys.path_importer_cache.values()):
            if isinstance(imp, zipimport.zipimporter):
                try:
                    _STAMPS[imp] = _stamp(imp.archive)
                except OSError:
                    pass
    return True
