"""Python worker daemon for the sessions ``session.get_spark`` builds.

Spark forks every Python worker from this module (``spark.python.daemon.module``)
instead of ``pyspark.daemon``. ``python -m`` imports the package once before
forking, so workers share it. Otherwise the only difference: each task's
``importlib.invalidate_caches()`` re-reads a zip archive's index (pyspark.zip,
the py4j zip and the spark-core jar on the worker path: 16 importers, ~27k
entries, ~70 ms per task) only when the archive's
``(st_mtime_ns, st_size)`` changed since its last read. Directory finders are
still invalidated on every task, so ``addPyFile`` files stay visible.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # stamp every archive once, before forking
    from pyspark import daemon

    daemon.manager()
