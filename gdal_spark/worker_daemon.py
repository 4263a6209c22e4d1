"""PySpark worker daemon whose zip importers skip re-reading an unchanged archive.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), so that zips added with
``addPyFile`` become importable. On Python 3.11
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, once per importer: for Spark's ``pyspark.zip`` (1,328
entries, 16 importers in a worker) that took 81-159 ms a task
(median 91) on a 4-CPU host. This module gates that re-read on the archive's stat stamp
and then runs ``pyspark.daemon`` unchanged. ``session.worker_conf``
enables it with ``spark.python.daemon.module``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_if_changed(self):
    """Re-read the archive unless it has the stamp this importer last
    read it at. The stamp is per importer: importers of one archive
    each hold their own file table. A missing archive always re-reads,
    which empties the table as before."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install():
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    install()
    import pyspark.daemon

    # read and stamp the daemon's importers once, so that even a forked
    # worker's first task skips the re-read
    importlib.invalidate_caches()
    pyspark.daemon.manager()
