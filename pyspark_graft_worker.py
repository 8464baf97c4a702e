"""Python worker module for sessions built by ``session.get_spark``.

Spark's daemon (``pyspark/daemon.py``) imports the module named by
``spark.python.worker.module`` once, before it forks any worker, and
runs its ``main`` for every task.  The daemon accepts only names that
start with ``pyspark``, hence this top-level module.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Stock CPython 3.11 answers that in
each ``zipimporter`` by re-reading its archive's whole central
directory, and a worker holds about 16 of them (``pyspark.zip``, the
``spark-core`` jar, the py4j zip, one per imported package prefix):
0.14-0.24 s of every task in a warm worker on a 4-core Xeon.  This
module makes ``zipimporter.invalidate_caches`` re-read an archive only
when its ``(st_mtime_ns, st_size)`` differs from the one it last read.
A rewritten archive is still re-read, and every importer of it (the
package and sub-package prefixes share one directory cache) picks up
the new directory.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

from pyspark.worker import main

__all__ = ["main"]

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_mtime_ns, st_size) stat'ed just before its
#: directory was last read into ``zipimport._zip_directory_cache``
_read_stamps: dict[str, tuple[int, int]] = {}
#: keeps each stamp paired with the directory read after it
_lock = threading.Lock()


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    with _lock:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (
            stamp is not None
            and files is not None
            and _read_stamps.get(self.archive) == stamp
        ):
            self._files = files
            return
        _stock_invalidate_caches(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _read_stamps[self.archive] = stamp
        else:
            _read_stamps.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter`` and read each loaded archive once, so the
    workers forked afterwards start with every stamp known."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


install()
