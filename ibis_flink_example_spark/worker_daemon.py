"""PySpark's worker daemon, with zip importers that re-read an archive only
when it has changed.

PySpark calls ``importlib.invalidate_caches()`` before every Python task. On
CPython before 3.13 each ``zipimport.zipimporter`` then re-reads its whole
archive's central directory; a worker holds ~18 of them (``pyspark.zip`` and
its sub-packages, the spark-core jar, py4j, the package zip), ~180 ms of CPU
per task that changes nothing. Here an importer re-reads only when the
archive's ``(st_mtime_ns, st_size, st_ino)`` differ from its last read.
Workers fork from this daemon and inherit the patch; directory finders keep
the stock invalidation. ``session.get_spark`` names this module in
``spark.python.daemon.module``.
"""

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None  # gone or unreadable: the stock method drops it
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        # stamp taken before the read: a write during it shows on the next call
        _stock_invalidate(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 made the stock method lazy
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark.daemon import manager

    # read each archive here once, so forked workers inherit the stamps
    importlib.invalidate_caches()
    manager()
