"""PySpark worker daemon (``spark.python.daemon.module``).

Python workers are forked from this process, so whatever it sets up
is inherited by every worker. It does two jobs that the stock
``pyspark.daemon`` leaves to each worker.

1. **Archives are re-read only when they change.** Before every task,
   ``pyspark.worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()``. On CPython 3.11 and 3.12 that
   makes every ``zipimporter`` re-read its whole archive directory:
   ``pyspark.zip`` (1,328 entries), the py4j zip and the spark-core jar
   (5,359 entries), once per importer, and a worker holds about 16 of
   them. Measured inside the tasks of a 4-core VM, that is 144-262 ms
   of pure-Python zip parsing per task (0.1-0.2 ms with this daemon).
   Here an importer re-reads its archive only when the archive's
   ``(st_mtime_ns, st_size)`` differs from the one seen at its last
   read, so a changed archive is still re-read as before. ``importlib.invalidate_caches()`` runs once before the
   first fork, so inherited importers already carry that signature.
   CPython 3.13 drops the cache lazily and is left alone. With this, a
   1-task RDD map went from 0.21-0.26 s to 0.10-0.11 s, and a 4-task
   ``mapInPandas`` from 0.36-0.39 s to 0.16-0.19 s (min-median of 10).
2. **Heavy modules are imported once.** ``numpy``, ``pandas`` and
   ``pyarrow`` are imported here and shared copy-on-write, instead of
   each fresh worker paying about 2.3 s of imports before its first
   Arrow batch. The worker pool churns in a long session (Spark
   destroys a worker whenever a task ends without draining its
   input, e.g. under a ``limit`` over a Python stage), so that cost
   would otherwise recur.

The imports are best-effort: a missing optional module must not take
down the worker factory. ``manager()`` is the stock daemon entry point
and runs unchanged.
"""

import importlib
import os
import sys
import zipimport

if sys.version_info < (3, 13):
    # archive path -> (st_mtime_ns, st_size) at its last directory read
    _SIGNATURES = {}
    _read_directory = zipimport._read_directory
    _reread = zipimport.zipimporter.invalidate_caches

    def _signature(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _read_directory_signed(archive):
        sig = _signature(archive)
        files = _read_directory(archive)
        _SIGNATURES[archive] = sig
        return files

    def _invalidate_caches(self):
        """Re-read the archive directory only if the archive changed
        since its last read."""
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None \
                and _SIGNATURES.get(self.archive) == sig:
            self._files = files
        else:
            _reread(self)

    zipimport._read_directory = _read_directory_signed
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

for _m in ("numpy", "pandas", "pyarrow", "pyarrow.compute",
           "pyspark.sql.pandas.serializers", "pyspark.sql.pandas.types"):
    try:
        importlib.import_module(_m)
    except Exception:  # pragma: no cover - optional module absent
        pass

importlib.invalidate_caches()

if __name__ == "__main__":
    from pyspark.daemon import manager
    manager()
