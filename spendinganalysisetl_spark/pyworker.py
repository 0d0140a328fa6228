"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``). On CPython 3.11 each ``zipimporter``
then re-reads its whole archive directory; a warm worker holds 16 of them
over ``pyspark.zip``, which made up most of a reused worker's per-task
time. Here an importer re-reads only when the archive's (inode, size,
mtime) differs from what that importer last read, so a changed or new
archive is still picked up and other finders are untouched. ``main``
patches before ``daemon.manager()`` forks, so every worker inherits it.
``session.get_spark`` names this module in ``spark.python.daemon.module``.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


def main():
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run the package's copy, not this ``__main__`` one, so the patch
    # is ``spendinganalysisetl_spark.pyworker.invalidate_caches``.
    from spendinganalysisetl_spark.pyworker import main as _main

    _main()
