"""A stat-checked ``zipimporter.invalidate_caches`` for CPython < 3.13.

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Before 3.13 that makes
every cached ``zipimporter`` re-parse its archive's whole central directory
in pure Python, once per importer. A Spark 4.1 worker holds about 17 of
them over four archives: ``pyspark.zip`` (1,328 entries), the spark-core
jar Spark puts on the worker's path (5,359 entries), py4j and the engine's
own zip. That was ≈0.2 s of every task on a 4-vCPU Xeon host.

``install`` replaces that method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the read the shared
``_zip_directory_cache`` entry came from. Otherwise the importer takes the
entry it already shares with every other importer of that archive, so one
read serves them all and a warm task does none. A rewritten archive is
still re-read, a missing one still empties its importer, and new paths
still get new importers: only the redundant re-reads go. 3.13 made the
stdlib method lazy, so there nothing is patched.

Stdlib only: the package ``__init__`` imports this, and the extraction
kernels must stay importable without Spark, pandas or Arrow.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the read that the archive's
# ``zipimport._zip_directory_cache`` entry holds
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _refresh(self):
    """Reload the archive's file data if the archive changed since the last
    read; otherwise share that read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a rewrite racing the read leaves an older
    # stamp, so the next call reads again
    _stdlib_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches``; a no-op on
    CPython ≥ 3.13."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _refresh
