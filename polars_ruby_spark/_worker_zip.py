"""Zip importers in Spark Python workers re-read only an archive that changed.

Before every task, Spark's Python worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:144``, in ``setup_spark_files``) so that files added
with ``addPyFile`` become importable.  On Python 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory.  A worker holds 16 of them: 12 for ``pyspark.zip``
(1,328 entries), 2 for the py4j zip and 2 for the spark-core jar (5,359
entries), which Spark puts on the worker's ``sys.path``.  One call cost
114-139 ms of CPU in each of four concurrent tasks (``local[4]`` on 4 vCPU,
Python 3.11.7, pyspark 4.1.2), on the critical path of every Python task: an
identity ``mapInArrow`` job of four tasks took 0.55-0.78 s of worker CPU with
the re-reads and 0.08-0.11 s without.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when ``os.stat`` of the archive gives a different
``(st_mtime_ns, st_size)`` than when that importer last read it, when the stat
fails, or on that importer's first call.  The stamp is taken before the read,
so an archive rewritten during a read is read again on the next call.  A new
``sys.path`` entry has no cached importer and a rewritten zip changes its
stamp, so ``addPyFile`` keeps working; only re-reads of unchanged archives are
skipped.  The driver is left alone.
"""

from __future__ import annotations

import os
import zipimport

#: Importer attribute holding the archive stamp of its last read.
_STAMP = "_polars_ruby_spark_stamp"


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _wrap(stock):
    """``stock`` (a ``zipimporter.invalidate_caches``) that skips the re-read
    when the importer's archive has the stamp of its last read."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or getattr(self, _STAMP, None) != stamp:
            stock(self)
            setattr(self, _STAMP, stamp)

    invalidate_caches.__wrapped__ = stock
    return invalidate_caches


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once, inside a Spark Python
    worker only (a task context is set); return whether it is installed."""
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return False
    cls = zipimport.zipimporter
    if cls.invalidate_caches.__module__ != __name__:
        cls.invalidate_caches = _wrap(cls.invalidate_caches)
    return True
