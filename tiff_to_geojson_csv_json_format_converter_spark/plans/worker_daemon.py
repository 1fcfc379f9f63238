"""PySpark worker daemon that cuts the fixed Python CPU of every task.

``get_spark`` names this module as ``spark.python.daemon.module`` for
``local[...]`` masters. Spark starts it once per Python executable and
forks every Python worker from it, so each worker has both fixes below
from its first task on. Per-task Python CPU of an identity
``mapInArrow`` on a 4-core host (Python 3.11, ``local[2]``, reused
workers): 0.28 s with the stock daemon, 0.047 s with the zip fix alone,
0.003 s with both.

1. Zip directories. Every task starts with
   ``pyspark.worker_util.setup_spark_files``, which calls
   ``importlib.invalidate_caches()``. Before Python 3.12 that makes each
   cached ``zipimporter`` re-read the whole central directory of its
   archive: pyspark.zip has 1,328 entries and a worker holds 16
   importers on it (one per imported pyspark package), ~0.23 s of CPU
   per task. :func:`install` re-reads an archive only when its (inode,
   mtime, size) changed since it was last read; otherwise the importer
   takes the shared ``zipimport._zip_directory_cache`` entry. Python
   3.12 made that invalidation cheap, so there nothing is patched.
2. Garbage collection. The daemon runs ``gc.collect()`` in the worker
   after every task, a full walk of every object the worker holds,
   ~0.044 s. :func:`freeze` imports the Arrow UDF stack (pyarrow,
   pandas) here once and moves all the daemon's objects into the
   collector's permanent generation, so a collection walks only what
   the worker created since.

What remains, ~3 ms, is the socket handshake, reading and unpickling
the command, and opening the Arrow streams.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; False when not needed or
    already installed."""
    if sys.version_info >= (3, 12) or hasattr(zipimport.zipimporter.invalidate_caches, "stat_keys"):
        return False
    reread = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    # archive -> stat key when its directory was last read
    stat_keys = {path: _stat_key(path) for path in cache}

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = cache.get(self.archive)
        if key is not None and files is not None and stat_keys.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        stat_keys[self.archive] = key

    invalidate_caches.stat_keys = stat_keys
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def freeze() -> None:
    """Import what every Arrow UDF worker imports, then exempt everything
    loaded so far from the cyclic collector."""
    for name in ("pyarrow", "pandas"):
        try:
            importlib.import_module(name)
        except ImportError:
            pass
    gc.freeze()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    freeze()
    daemon.manager()
