"""PySpark worker daemon for sparkgraft sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
It runs ``pyspark.daemon``'s manager unchanged, after one patch that every
forked worker inherits: on Python < 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads an archive's central
directory only when the archive changed on disk.

Why: every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Workers import pyspark from
``pyspark.zip`` through one ``zipimporter`` per package directory they
imported from (16 after a ``mapInPandas`` task), and before 3.13 each of
them eagerly re-parses the whole archive directory — 0.17–0.25 s of CPU
per task for pyspark.zip's 1,328 entries (Python 3.11, 4-vCPU VM). Python 3.13 made the stdlib
method lazy (it only drops the shared cache entry), so there the stdlib
is left as it is.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive -> (st_mtime_ns, st_size) taken just before its last read here
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Stat-checked ``zipimporter.invalidate_caches``.

    Re-read the archive only when its ``(st_mtime_ns, st_size)`` differs
    from the one taken before its last read in this process (or it has
    none, or its cache entry is gone). Otherwise rebind the shared
    ``_zip_directory_cache`` entry, as ``zipimporter.__init__`` does, so
    an importer whose sibling already re-read the archive sees the new
    directory without reading it again."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    fresh = stamp is not None and _read_stamps.get(self.archive) == stamp
    if fresh and files is not None:
        self._files = files
        return
    # stamped before the read: a change while reading shows up next time
    _read_stamps[self.archive] = stamp
    _stdlib_invalidate(self)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (Python <
    3.13 only) and stamp every archive already imported from with one
    read each."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    from pyspark import daemon  # imports pyspark from its zip: stamp after

    install()
    daemon.manager()


if __name__ == "__main__":
    # run the package's copy of this module, so the patch workers inherit
    # is ``sparkgraft._pydaemon.invalidate_caches`` and not ``__main__``'s
    from sparkgraft import _pydaemon

    _pydaemon.main()
