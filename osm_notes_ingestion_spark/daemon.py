"""Spark's Python worker daemon, minus the per-task re-read of unchanged zips.

Every Python task starts with `importlib.invalidate_caches()`
(pyspark `worker_util.setup_spark_files`). CPython's
`zipimporter.invalidate_caches` re-reads its archive's central directory
in pure Python, and Spark's worker path holds pyspark.zip, py4j's zip and
the spark-core jar behind 16 importers: 0.12–0.24 s per task on a reused
4-core local worker. This daemon re-reads an archive only when its
(inode, size, mtime) stamp differs from the one taken before its last
read — the rule `FileFinder` already applies to directories — so a
changed or newly added archive (`addPyFile`) is still re-read. The
daemon stamps every archive once before it forks its workers.

`session.get_spark` sets `spark.python.daemon.module` to this module.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# per archive path, like zipimport's own _zip_directory_cache it guards
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches`, skipped while the archive's stamp
    matches the one taken before its directory was last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files  # another importer of this archive may have re-read it
        return
    _stamps[self.archive] = stamp  # taken first: a write during the read changes it
    _reread(self)


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp every archive once, before the workers fork
    daemon.manager()
