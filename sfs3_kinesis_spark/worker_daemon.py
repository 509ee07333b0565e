"""Python worker daemon: ``pyspark.daemon`` with stamp-checked zip caches.

Spark forks every Python worker from a daemon process
(``spark.python.daemon.module``, set by ``session.get_spark``).  Before
each task the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Up to CPython 3.12 that
makes every ``zipimporter`` re-read its archive's central directory at
once: for ``pyspark.zip`` (1328 entries) there is one importer per
imported subpackage, about 16 per task, and together they are most of
a small task's time.  CPython 3.13 defers the re-read to the next
import from the archive.

``install`` makes ``zipimporter.invalidate_caches`` re-read only when
the archive's ``(st_mtime_ns, st_size)`` differs from the one of that
importer's last read, so a changed archive is still re-read.  Run as
a module, this installs the check, reads every importer's archive
once, and hands over to ``pyspark.daemon.manager``; the forked
workers inherit both.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _original_invalidate(self)
    self._read_stamp = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stamp check
    and read every cached importer's archive once, recording its stamp."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
