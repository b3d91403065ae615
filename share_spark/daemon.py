"""Python worker daemon for the engine's UDF stages.

Spark forks every Python UDF worker from a daemon process; `get_spark`
names this module as that daemon (`spark.python.daemon.module`). It runs
the stock `pyspark.daemon.manager()` after one change, on Python < 3.13
only: a zip archive's directory is re-read on `importlib.invalidate_caches()`
only when the archive changed on disk.

PySpark's worker calls `importlib.invalidate_caches()` once per task. Before
3.13, zipimport answers it by re-reading the archive's whole central
directory once per zipimporter: ~16 importers on pyspark.zip (one per
package dir imported from it), ~1,300 entries each time, 0.1-0.3 s per
task. Python 3.13 invalidates lazily itself, and there this module only
runs the stock daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the archive whose directory is
# held in zipimport._zip_directory_cache
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches`, stat-checked: re-read the archive
    only when its (mtime, size) changed, and point every importer of an
    archive at its one shared `_zip_directory_cache` entry. The stamp is
    taken before the read, so a write racing the read is seen next time."""
    cache = zipimport._zip_directory_cache
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
        if _stamps.get(self.archive) != stamp or self.archive not in cache:
            cache[self.archive] = zipimport._read_directory(self.archive)
            _stamps[self.archive] = stamp
        self._files = cache[self.archive]
    except (OSError, zipimport.ZipImportError):
        cache.pop(self.archive, None)
        _stamps.pop(self.archive, None)
        self._files = {}


def main() -> None:
    from pyspark import daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # stamp every archive imported so far, once, before workers fork
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
