"""PySpark-native analytics engine reproducing the capability surface of
``sthakur2019/Anomaly-detection-in-time-series-data`` (see SURVEY.md).

Design stance (SURVEY.md §7): a thin, well-typed PySpark library of
``DataFrame -> DataFrame`` operator functions. Catalyst is the optimizer,
Structured Streaming is the streaming runtime, MLlib supplies featurization
and anomaly models. Custom code concentrates only where Spark has no
primitive (geohash expression family, email parsing, replay pacing,
anomaly-scoring composition).
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _cache_zip_directories() -> None:
    """In a Python worker, make ``zipimporter.invalidate_caches`` re-read
    an archive's directory only when the archive changed since this
    process last read it.

    pyspark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` before every task, and on Python
    3.11 each zipimporter then re-reads its whole archive: one read of
    ``pyspark.zip`` (1,328 entries) per importer, 17 importers in a
    local-mode worker, about 0.17 s per task. The wrapper keys each archive path on its
    ``(st_dev, st_ino, st_size, st_mtime_ns)`` at this process's last read
    and reuses ``zipimport._zip_directory_cache`` while the key holds, so
    N importers of one archive cost at most one read. It relies on a
    changed archive getting a new stat key: a zip rewritten in place gets
    a new size or mtime, one swapped in with ``os.replace`` a new inode
    (``session._package_zip`` also gives each package its own path). A
    missing archive fails ``stat`` and takes the original path.

    It lives here, not in the driver's session set-up, because the cost is
    paid in each worker process's own import system; a worker imports the
    package whenever it unpickles a UDF that references package code. The
    worker flag ``SparkFiles._is_running_on_worker`` is set by
    ``setup_spark_files`` before the UDF is read and never in the driver,
    so the driver's import system is left alone. The module is looked up
    in ``sys.modules``, not imported, so a process without pyspark loaded
    does not load it here.
    """
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_keyed", False):
        return
    read_keys = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_keys.pop(self.archive, None)
            return original(self)
        key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and read_keys.get(self.archive) == key:
            self._files = cached
            return
        original(self)
        read_keys[self.archive] = key

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_cache_zip_directories()
