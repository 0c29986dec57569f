"""PySpark daemon that spares warm Python tasks a re-read of every zip
on ``sys.path``.

Run as ``python -m ws_to_kafka_spark.worker_daemon pyspark.worker``
(``spark.python.daemon.module``, set by ``session.get_spark``), it
replaces ``zipimport.zipimporter.invalidate_caches`` with
:func:`invalidate_caches` and then runs ``pyspark.daemon.manager()``,
so every worker the daemon forks inherits the replacement.

Why: every Python task calls ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. Before Python 3.13
(gh-103200) that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read and re-parse its archive's central
directory in pure Python. A worker holds about 50 such entries, among
them two over Spark's ``spark-core`` jar (~40 ms each) and one per
imported sub-package of ``pyspark.zip`` (~10-16 ms each): 174-233 ms
per task on a 4-core host, for archives that never change while the
daemon lives.

The replacement stats the archive and re-reads it only when
``(st_ino, st_size, st_mtime_ns)`` differs from the values at that
importer's last read. The first call on an importer always re-reads, an
archive rewritten in place or replaced by a rename is re-read, and a
failed ``stat`` falls back to the original method (a missing archive
leaves the importer with no files, as before). Directory finders
are untouched, and a zip added with ``addPyFile`` gets a fresh
importer through ``sys.path_hooks`` as before.

Not ``spark.python.worker.module``: ``pyspark/daemon.py`` honours a
worker module only if its name starts with ``pyspark``. Spark's own
coverage harness (``python/test_coverage/coverage_daemon.py``) plugs
in through the daemon module in the same way. The replacement is
installed only under ``__main__``, so importing this module patches
nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: The stock method: re-reads the archive's directory unconditionally.
_reread_directory = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since its last
    read (see the module docstring)."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_read_stamp", None)
        _reread_directory(self)
        return
    # stat before the read: a rewrite between the two is caught next call
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    if self.__dict__.get("_read_stamp") != stamp:
        _reread_directory(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    # install the importable module's function, not this __main__ copy's,
    # so a worker sees the replacement under its real module name; 3.13's
    # stock method only marks the cache stale and stays
    from pyspark.daemon import manager

    from ws_to_kafka_spark import worker_daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    manager()
