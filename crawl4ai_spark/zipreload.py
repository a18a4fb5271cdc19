"""Stat-checked zip directory reload for warm PySpark Python workers.

PySpark's worker runs ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before Python
3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive, and a warm worker holds one
zipimporter per imported subpackage of ``pyspark.zip`` plus two for the
spark-core jar on its PYTHONPATH: 0.11-0.25 s of every Python task on
a 4-core host, before it sees a row (BENCH.md "One zip read per Python
worker"). Python 3.13 made the method only drop the cache.

``install_in_worker`` (called from the package ``__init__``, which every
worker-side function imports) replaces the method, in a Python worker
on Python < 3.13 only, with one that re-reads an archive only when its
``(st_ino, st_mtime_ns, st_size)`` differs from the stat taken before
its directory was last read; otherwise the importer adopts the shared
directory of that read. A rewritten archive is still re-read; an
unchanged one costs one ``stat``. The first call per archive after
install re-reads, since nothing is known about the read before it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install_in_worker() -> None:
    """Install the stat-checked reload inside a PySpark Python worker on
    Python < 3.13; a no-op on the driver and on newer Pythons."""
    if sys.version_info >= (3, 13):
        return
    pyspark = sys.modules.get("pyspark")
    if pyspark is None or pyspark.TaskContext.get() is None:
        return
    install()


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stat-checked
    version. Idempotent."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return
    # archive path -> its stat signature taken just before its last read
    read_sig: dict[str, tuple | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None \
                and read_sig.get(self.archive) == sig:
            self._files = files
            return
        read_sig[self.archive] = sig
        reread(self)

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
