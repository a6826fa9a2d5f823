"""A guard on zipimport for the package's Python workers, installed once
per process when the package is imported.

PySpark's worker calls importlib.invalidate_caches() at the start of EVERY
task, and on CPython 3.10-3.12 that makes each zipimporter on the worker's
path re-read its whole archive directory: pyspark.zip, the py4j zip and
the spark-core jar, ~27k entries and 0.15-0.25 s per task on a 4-core box,
against ~5 ms of kernel work per 20-doc micro-batch.  The guard re-reads an
archive only when its stat (mtime_ns, size, inode) changed, so a changed
archive or one added later by addPyFile is still read fresh.  CPython
3.13's invalidate_caches no longer re-reads eagerly either (it drops the
cache entry).

Every Python-worker operator of the package (mapInArrow, mapInPandas,
applyInPandasWithState, the Python data source) ships a function the
worker unpickles by importing this package, right after its first task's
setup re-read the archives; so a reused worker (Spark's default) pays the
re-read on its first task only.  This module imports no pyspark.
"""

from __future__ import annotations

import os
import sys
import zipimport


def guard_zip_rereads() -> None:
    """Make `zipimporter.invalidate_caches()` re-read an archive's directory
    only when the archive changed: its os.stat mtime_ns, size or inode
    differ from the last read.  Installed once per process, over the stock
    method only, which `__wrapped__` keeps.  Importers that exist at
    install time are taken as current; in a PySpark worker each task's
    setup has just re-read them all."""
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    reread = cls.invalidate_caches

    def stamp(imp):
        try:
            st = os.stat(imp.archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def invalidate_caches(self):
        now = stamp(self)
        # a missing archive always takes the stock path, which drops it
        if now is None or now != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = now

    invalidate_caches.__wrapped__ = reread
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._read_stamp = stamp(imp)
    cls.invalidate_caches = invalidate_caches
