"""Re-read a zip archive's directory only when the archive has changed.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
and 3.12, ``zipimport.zipimporter.invalidate_caches`` eagerly re-parses the
archive's whole central directory, once per importer. A worker holds one
importer per imported pyspark subpackage of ``pyspark.zip`` (1,328
entries, ~8 ms each on a 4-CPU x86 host), so a reused worker paid
~240 ms at every task start. 3.13 pops the cached directory instead, which
still costs one re-parse per archive on the next import. This module can
go once neither CPython nor Spark re-reads an unchanged archive per task.

``install()`` swaps in a method that keys each archive by
``(st_mtime_ns, st_size)`` and calls the stock method only when that key
changed, the stat fails, or ``zipimport._zip_directory_cache`` has no
entry; otherwise the importer points at the shared cached directory.
Directory ``FileFinder`` invalidation is untouched, so a ``.py`` file added
through ``addPyFile`` is still found.
"""

from __future__ import annotations

import os
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _read_at.get(self.archive) != stamp:
        _stock(self)
        _read_at[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    """Swap in the stamp-checked method; archives already read are stamped
    now, so the next ``invalidate_caches()`` re-reads none of them."""
    for archive in zipimport._zip_directory_cache:
        _read_at.setdefault(archive, _stamp(archive))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
