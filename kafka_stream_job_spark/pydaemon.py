"""Python worker daemon for local sessions: ``pyspark.daemon`` with
zipimport cache invalidation keyed on the archive's stat.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before 3.13, each
``zipimporter`` answers by re-reading its archive's whole central
directory, and a worker holds one importer per ``pyspark.zip``
sub-package it imported from: 16 reads of a 1328-entry directory per
task. Here an importer re-reads only when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since this process last read
it, or no directory is cached for it; otherwise it takes the cached one,
which the stock constructor already shares between importers of one
archive. This is the mtime policy ``FileFinder`` applies to directories.

Run as ``python -m kafka_stream_job_spark.pydaemon <worker module>``
(``spark.python.daemon.module``, set by ``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
#: archive path → stat stamp at this process's last read of its directory
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
    if stamp is None or files is None or _read_stamps.get(self.archive) != stamp:
        # stamped before the read, so a write during it re-reads next time
        _stock_invalidate(self)
        _read_stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` (3.13+ already reads lazily)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon  # reads the worker module from argv[1]

    importlib.invalidate_caches()  # forked workers start with stamps
    daemon.manager()
