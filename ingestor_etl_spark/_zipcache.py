"""Skip re-reading unchanged zip archives in Spark Python workers.

``pyspark.worker`` calls ``importlib.invalidate_caches()`` at the start
of every task. Before Python 3.13, ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory on each call, and a
worker holds one zipimporter per package it imported from
``pyspark.zip`` (16 for the engine's imports; the archive is 3.5 MB),
so every Python UDF stage of every task paid 0.15-0.27 s (4-core
host) before doing any work. Python 3.13 made the method lazy
(gh-103200), so this module does nothing there.

``install_in_worker`` swaps in a method that re-reads an archive only
when its ``os.stat`` key (mtime_ns, size, inode) changed since this
process last read it, so a rewritten zip is still picked up. It acts
inside a Spark task only; the driver keeps stock import behaviour.
Remove this module once the engine requires Python >= 3.13."""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
# archive path -> stat key taken just before its directory was last read
_READ_AT: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that reuses the cached
    directory while the archive's stat key is unchanged."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _READ_AT.get(self.archive) == key:
        self._files = files
        return
    _STOCK(self)
    if key is None or self.archive not in zipimport._zip_directory_cache:
        _READ_AT.pop(self.archive, None)
    else:
        _READ_AT[self.archive] = key


def install_in_worker() -> bool:
    """Install ``invalidate_if_changed`` when running inside a Spark
    task on Python < 3.13; returns whether it is installed."""
    if sys.version_info >= (3, 13):
        return False
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    return True
