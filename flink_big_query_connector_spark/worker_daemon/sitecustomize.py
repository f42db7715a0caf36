"""Start-up hook for every Python process Spark starts: zip importers
re-read an archive only when it changed.

Every PySpark task, and every Python DataSource planning call
(``create_data_source``, ``data_source_pushdown_filters``,
``plan_data_source_read``, ``write_into_data_source``,
``commit_data_source_write``), calls ``importlib.invalidate_caches()`` once
it has put the job's Python files on ``sys.path``
(``pyspark.worker_util.setup_spark_files``).  On Python 3.10 and 3.11,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory at once, and a worker holds one importer per package directory
it imported from a zip.  Workers import pyspark from ``pyspark.zip``
(1,328 files), so each call re-parses that directory 15-20 times in pure
Python: 100-170 ms on a 4-vCPU machine, more than a small task's own work
and more than a planning call's.  (Python 3.12 makes the re-read lazy.)

This file makes an importer re-read its archive only when the file's
inode, size or mtime changed since it last read it.  ``session`` puts this
directory first on the ``PYTHONPATH`` of the SparkContext's Python
functions, which the JVM hands to every daemon and worker it starts for
them, planner workers included; Python's ``site`` then imports this file
at start-up, and forked workers inherit the patch.  The directory holds
nothing else.  A ``sitecustomize`` that this file shadows (one found later
on ``sys.path``) still runs, after the patch.
"""

import importlib.machinery
import importlib.util
import os
import sys
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


def _run_shadowed():
    """Run the next ``sitecustomize`` on ``sys.path`` after this directory;
    return its module, or None when there is none."""
    here = os.path.dirname(os.path.abspath(__file__))
    entries = [os.path.abspath(p or os.curdir) for p in sys.path]
    if here not in entries:
        return None
    later = [p for p in entries[entries.index(here) + 1 :] if p != here]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", later)
    if spec is None:
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


shadowed = _run_shadowed()
