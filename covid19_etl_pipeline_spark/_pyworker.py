"""PySpark daemon that forks workers from a warm image.

``get_spark`` sets this module as ``spark.python.daemon.module``. Its
import runs once, in the daemon, before any worker is forked:

- On Python < 3.12, ``zipimporter.invalidate_caches`` re-reads an
  archive's central directory only when the archive's
  ``(st_ino, st_size, st_mtime_ns)`` changed. PySpark calls
  ``importlib.invalidate_caches()`` at the start of every task, and the
  stock method re-parses all of ``pyspark.zip`` for each of the ~16
  importers over it (Python 3.12 made the invalidation lazy).
- The Arrow-UDF stack is imported once, so forked workers inherit it
  instead of importing it on their first task. The BLAS thread pins
  reach this process through ``spark.executorEnv.*``, so the fork stays
  thread-free.
"""

import importlib
import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _reread_directory = zipimport.zipimporter.invalidate_caches

    def invalidate_if_changed(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_stat_key", None):
            _reread_directory(self)
            self._stat_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed

import numpy  # noqa: E402,F401
import pandas  # noqa: E402,F401
import pyarrow  # noqa: E402,F401
import pyspark.sql.pandas.serializers  # noqa: E402,F401
import pyspark.worker  # noqa: E402,F401

# prime every importer's key here, so forked workers start with them
importlib.invalidate_caches()

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
