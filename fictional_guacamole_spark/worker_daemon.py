"""PySpark worker daemon that re-reads a zip archive only when it changed.

``session.get_spark`` sets this module as ``spark.python.daemon.module``
on a local master. Spark starts it as ``python -m
fictional_guacamole_spark.worker_daemon``; it installs the guard below and
then runs the stock ``pyspark.daemon.manager()``, which forks one Python
worker per task slot.

Why: every task's ``pyspark.worker_util.setup_spark_files`` ends in
``importlib.invalidate_caches()`` (``pyspark/worker_util.py:144``), which
calls ``invalidate_caches`` on every zip importer in
``sys.path_importer_cache``. CPython 3.11's ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory eagerly
(``zipimport.py:329-336``). A worker holds about 16 such importers: one per
imported subpackage of ``pyspark.zip`` (1328 entries) and two over the
spark-core jar (5359 entries), so that one call cost 110–280 ms of every
Python task on a 4-vCPU host, for archives that never change while the
session runs.

The guard keeps the stock behaviour whenever it matters: an importer
re-reads its archive, eagerly as before, when the archive's
``(st_mtime_ns, st_size)`` differs from what it was at that importer's
last read, or when the importer has not read through the guard yet. So a
zip that ``addPyFile`` rewrites in place is still picked up by the next
task.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches_if_changed(self) -> None:
    """Re-read this importer's archive only if it changed since its last
    read through this guard."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    # stamp before reading: a rewrite during the read shows next time
    _stock_invalidate_caches(self)
    self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    # stamp the importers the daemon already holds, so the forked workers
    # inherit them read and stamped instead of each reading them once
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
