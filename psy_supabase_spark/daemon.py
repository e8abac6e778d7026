"""PySpark worker daemon: the stock ``pyspark.daemon`` with one zipimport fix.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so every Python worker is forked from a process that ran ``install()``.

PySpark calls ``importlib.invalidate_caches()`` before every Python task
(``worker_util.setup_spark_files``). Where ``zipimporter.invalidate_caches``
re-reads its archive eagerly (3.11, 3.12), that re-reads the central
directory of every zip on the worker path once per importer: ``pyspark.zip``
once per imported subpackage, the Spark core jar and the py4j zip, 16 reads
and ~145 ms of every task's fixed cost. ``install()`` makes an archive be
re-read only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the
last read, stat taken before the read; otherwise the importer is pointed back
at the cached directory. A zip that ``addPyFile`` ships later is a new path
and is read as before.
"""

from __future__ import annotations

import os
import traceback
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Patch zipimport in this process; False (and nothing changed) where
    ``invalidate_caches`` does not re-read the archive itself, as on 3.13+,
    which only drops the cache entry."""
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    if "_read_directory" not in stock_invalidate.__code__.co_names:
        return False
    stock_read = zipimport._read_directory
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def read_directory(archive):
        key = _stat_key(archive)
        files = stock_read(archive)
        read_at[archive] = key
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        key = read_at.get(self.archive)
        if files is not None and key is not None and key == _stat_key(self.archive):
            self._files = files
        else:
            stock_invalidate(self)

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # archives read before the patch (finding this package on sys.path) have
    # no stat key yet: read them once more here, before any worker forks
    for archive in list(zipimport._zip_directory_cache):
        try:
            zipimport._zip_directory_cache[archive] = read_directory(archive)
        except zipimport.ZipImportError:
            del zipimport._zip_directory_cache[archive]
    return True


if __name__ == "__main__":
    try:
        install()
    except Exception:  # noqa: BLE001 - the stock daemon must start regardless
        traceback.print_exc()
    from pyspark import daemon

    daemon.manager()
