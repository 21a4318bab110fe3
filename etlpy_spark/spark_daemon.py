"""Python-worker daemon that keeps zip archives' directories across tasks.

Spark forks every Python worker from one daemon process
(``pyspark/daemon.py``; :func:`etlpy_spark.session.get_spark` selects this
module through ``spark.python.daemon.module``). Before each task runs, the
worker calls ``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``). Before CPython 3.13 that makes every cached
``zipimporter`` re-read its archive's central directory — on a stock
install a dozen-plus importers of ``pyspark.zip`` (~1.3k entries each
time) per task, most of a small task's Python CPU.

:func:`install` makes ``zipimporter.invalidate_caches`` re-read an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` stamp differs from the
one taken before its directory was last read, so a changed, replaced or
removed archive is still picked up. The daemon installs it before it
forks, so every worker inherits it. CPython 3.13 made
``invalidate_caches`` lazy (it only drops the cache entry); there the
patch is not installed.

Sessions not built by ``get_spark`` (``tools/submit_crawl.py`` ships the
package with ``spark-submit --py-files``) keep the stock daemon: this
module must be importable when the daemon starts.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Patch :mod:`zipimport` so invalidating caches skips unchanged archives."""
    if sys.version_info >= (3, 13):
        return
    read = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    stamps: dict[str, tuple] = {}

    def read_directory(archive):
        stamp = _stamp(archive)  # taken first: a write during the read re-reads next time
        files = read(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is None or stamp is None or stamps.get(self.archive) != stamp:
            reread(self)
        else:
            self._files = files

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    # pyspark.zip's importers were created before install() (importing this
    # package imports pyspark): stamp their archives once here, not per worker
    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
