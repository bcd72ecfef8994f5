"""Python worker daemon for this package's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and Spark always puts ``pyspark.zip``, the py4j
zip and the spark-core jar (thousands of entries) on the worker path, so
each task spends ~0.2 s re-parsing archives that have not changed. CPython
3.12 made that invalidation lazy.

This daemon is ``pyspark.daemon.manager()`` with, on CPython < 3.12, a
stat-checked invalidation installed before any worker is forked: an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since its last read, or when the
stat fails. A replaced or added zip (``addPyFile``) is still seen. The
daemon stamps its importers once before it forks, so no worker re-reads an
unchanged archive.

Spark puts ``pyspark.zip`` (which holds no ``.pyc`` files) ahead of
site-packages on the worker path, so every module a worker imports from it
is compiled from source. Before forking, the daemon also imports what every
Arrow task's worker needs (``PRELOADED``); forked workers inherit the
loaded modules instead of each importing (and, for PySpark's, compiling)
them on its first task.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

from pyspark import daemon


def install_stat_checked_zip_invalidation() -> None:
    """Replace ``zipimporter.invalidate_caches`` with one that skips the
    directory re-read while the archive's stat signature is unchanged."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            signature = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            signature = None
        if signature is None or signature != getattr(self, "_mss_signature", None):
            reread(self)
            self._mss_signature = signature

    zipimport.zipimporter.invalidate_caches = invalidate_caches


#: modules an Arrow task's worker imports (``mapInArrow``, pandas UDFs):
#: the batch kernels' numpy, and pandas, which pyarrow imports on a worker's
#: first numpy conversion (``to_numpy``, ``pa.array``)
PRELOADED = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.worker",
    "pyspark.sql.pandas.serializers",
)


def prepare_worker_imports() -> None:
    """Import ``PRELOADED``, then, on CPython < 3.12, install the
    stat-checked invalidation and stamp every importer the daemon holds
    with one ``invalidate_caches()``. Forked workers inherit both, so their
    first task imports none of those modules and its invalidation reads no
    archive (unstamped, each worker re-read all of them once, ~0.12 s)."""
    for name in PRELOADED:
        importlib.import_module(name)
    if sys.version_info < (3, 12):
        install_stat_checked_zip_invalidation()
        importlib.invalidate_caches()


if __name__ == "__main__":
    prepare_worker_imports()
    daemon.manager()
