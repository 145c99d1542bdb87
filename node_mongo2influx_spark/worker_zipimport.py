"""Cheap per-task import-cache invalidation inside Spark Python workers.

Spark calls ``importlib.invalidate_caches()`` at the start of every Python
task (``pyspark.worker_util.setup_spark_files``). On CPython 3.10–3.12,
``zipimporter.invalidate_caches`` re-reads its archive's whole directory in
pure Python; a worker holds about 16 zipimporters over ``pyspark.zip``, py4j
and the spark-core jar, so without this each task spends 250–300 ms of CPU
before doing any work. CPython 3.13 made the re-read lazy.

:func:`install` (called from the package ``__init__``) makes a zipimporter
re-read its archive only when the archive's ``(st_size, st_mtime_ns)``
differs from what that importer last read. It acts only inside a Spark
worker on CPython < 3.13; the driver's import system is left alone. Package
UDFs are pickled by reference, so a reused worker imports the package, and
installs this, during its first task.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns)


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is not None and self.__dict__.get("_read_stamp") == stamp:
        return
    _STDLIB_INVALIDATE(self)
    self._read_stamp = stamp


def _in_spark_worker() -> bool:
    files = sys.modules.get("pyspark.core.files")
    return files is not None and files.SparkFiles._is_running_on_worker


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in a Spark worker on
    CPython < 3.13; return whether it is patched."""
    if sys.version_info >= (3, 13) or not _in_spark_worker():
        return False
    if zipimport.zipimporter.invalidate_caches is not invalidate_if_changed:
        # Spark re-read every archive at the start of the task now running,
        # so the importers hold the directories of the archives as they are.
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder._read_stamp = _stamp(finder.archive)
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    return True
