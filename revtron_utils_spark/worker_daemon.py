"""PySpark worker daemon that stops every task from re-reading ``pyspark.zip``.

A reused Python worker calls ``importlib.invalidate_caches()`` at the
start of each task (``pyspark/worker_util.py``, ``setup_spark_files``).
On CPython 3.11/3.12 ``zipimport.zipimporter.invalidate_caches`` eagerly
re-reads the central directory of its archive, and a worker holds one
zipimporter per package directory inside ``pyspark.zip`` (~16) — so
every task, even an identity ``mapPartitions``, pays ~0.3 CPU-s parsing
the same 1,300-entry directory over and over.

This module wraps the method so an archive is re-read only when its
``(mtime, size, inode)`` stamp changed since the last read, then runs
the stock ``pyspark.daemon.manager()``. Workers fork from the daemon and
inherit the wrapper. ``session.get_spark`` selects it through
``spark.python.daemon.module`` and puts this package on the workers'
``PYTHONPATH`` so the daemon can always be imported.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches
#: archive path -> stamp of the file when its directory was last read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # stat BEFORE reading: a rewrite racing the read leaves the old stamp
    # recorded, so the next call reads again instead of keeping stale data
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _read_archive(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Swap in the stamp-checked ``invalidate_caches`` (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # read each archive once here, so forked workers start with stamps
    importlib.invalidate_caches()
    daemon.manager()
