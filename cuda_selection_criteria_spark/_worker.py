"""Stat-guarded zip directory re-reads for PySpark worker processes.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
each ``zipimport.zipimporter`` answers that by re-reading its archive's
whole central directory, once per importer instance, whether or not the
archive changed. Workers import pyspark and py4j from the zips under
``$SPARK_HOME/python/lib``, and a warm worker holds one importer per
package path inside them: 16 importers, about 27k directory entries per
task. Measured on a 4-core VM (``local[3]``, PySpark 4.1.2): a no-op
``mapInPandas`` task took 283-400 ms ``executorRunTime``, with 16 ms of
JVM CPU, and a cProfile of ``pyspark.worker.main`` found 0.80 s of
0.87 s in 16 calls to ``zipimport._read_directory``. A ``--py-files``
zip of this package adds one importer per package directory.

``install_zip_stat_guard()`` makes an importer re-read its archive only
when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the
stamp of its last read; otherwise it takes the shared
``zipimport._zip_directory_cache`` entry. A zip replaced in place (as
``SparkContext.addPyFile`` does) is still re-read, by the first importer
that sees the new stamp, and a new zip path gets a new importer, so
nothing a task can import changes. A rewrite that keeps the inode, the
size and the timestamp tick goes unseen, as it does for CPython's own
source-file cache.

The package ``__init__`` installs it only inside a PySpark worker, when a
task first unpickles a package UDF. That task has already paid its
re-reads, so each worker's first task keeps the cost; from the second on
it is gone: ``tools/udf_task_cost.py`` measured a no-op task's median at
321-350 ms before and 75-81 ms after, same VM. The driver's import
system is never touched.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install_zip_stat_guard() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` with the stat
    guard; a second call is a no-op.

    The archives already cached are stamped as they are now: in a worker
    this runs in the same task, after ``setup_spark_files`` re-read them.
    """
    stock = zipimport.zipimporter.invalidate_caches
    if stock.__module__ == __name__:
        return
    stamps: dict[str, tuple[int, int, int]] = {}
    for path in list(zipimport._zip_directory_cache):
        try:
            stamps[path] = _stamp(path)
        except OSError:
            pass

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        """Reload the archive's file data if the archive changed since
        its last read."""
        try:
            stamp = _stamp(self.archive)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        stock(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
