"""PySpark's worker daemon, with zip imports that re-read an archive only
when it changed.

Every PySpark task calls ``importlib.invalidate_caches()`` once it has put
the job's Python files on ``sys.path``
(``pyspark.worker_util.setup_spark_files``).  On Python 3.10 and 3.11,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory at once, and a worker holds one importer per package directory
it imported from a zip.  Workers import pyspark from ``pyspark.zip``
(1,328 files), so a task re-parses that directory 15-20 times in pure
Python before it runs: about 100 ms of a task on a 4-vCPU machine, more
than a small task's own work.  (Python 3.12 makes the re-read lazy.)

``session.get_spark`` runs this module as the daemon
(``spark.python.daemon.module``).  It makes an importer re-read its
archive only when the file's inode, size or mtime changed since it last
read it, then runs ``pyspark.daemon``, whose forked workers inherit the
change.  It is a top-level module in a directory of its own, so the daemon
imports it without importing the package.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self):
    """Re-read the archive's directory unless it is unchanged since this
    importer last did.  A missing archive always goes to the original."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
