"""Re-read a zip archive on ``sys.path`` only when it changed.

A Spark Python worker calls ``importlib.invalidate_caches()`` before
every task. On CPython < 3.13 each ``zipimporter`` answers by re-reading
its archive's whole central directory (gh-103200), and there is one
importer per package imported from an archive: pyspark.zip alone is read
about fifteen times per task, 0.16-0.29 s of every task on a 4-core
host (BASELINE.md "Raw ingest in one stage"). Importing ``loggie_spark``
(which every worker does to unpickle one of its functions) installs a
``zipimporter.invalidate_caches`` that re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the last read, so an
archive rewritten in place or replaced is still re-read. Python 3.13
reads archives lazily and is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp taken just before its last successful read;
# process-wide, like zipimport's own directory cache it guards.
_read_at: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` (CPython < 3.13 only)."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        # Stat before reading: a change racing the read leaves an older
        # stamp, so the next call reads again.
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
