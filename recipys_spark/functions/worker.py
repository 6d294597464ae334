"""``ready()``: the first call of every function the engine ships to
Python workers.

Why. A PySpark worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). On
CPython < 3.13 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory at
once; for ``pyspark.zip`` (~1,300 entries, one importer per package
directory imported from it) that is ~0.1–0.2 s of CPU per task before
the first row. CPython 3.13 made the re-read lazy.

What. ``ready()`` replaces ``zipimporter.invalidate_caches`` once per
process. The replacement re-reads an archive only when its ``os.stat``
(inode, size, mtime_ns) differs from the stat taken at the last read in
this process, and otherwise reuses ``zipimport._zip_directory_cache``.
An unchanged archive yields the same directory, so imports resolve as
before. At install it records the stat of every archive already in that
cache (the current task's ``setup_spark_files`` has just read them), so
the worker's next task skips the re-read too. Each worker's first task
still pays once: its ``setup_spark_files`` runs before the shipped
function is unpickled. An archive rewritten in place at the same size
within one mtime tick would not be re-read; Spark never does that to
its own archives or to ``--py-files``.

How to use. Reference ``ready`` as a module-level global of the
shipping module and call it as the shipped function's first statement.
cloudpickle pickles it by reference, so unpickling the function in the
worker imports this module; under ``spark-submit --py-files
recipys_spark.zip`` the zip is on ``sys.path`` by then. Importing this
module changes nothing; ``tests/test_plan_hygiene.py`` checks every
shipping site in the package.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: directory re-reads skipped in this process because the archive was unchanged
skipped = 0

_reread = zipimport.zipimporter.invalidate_caches
_stats: dict = {}  # archive path -> stat key of its directory in the cache
_installed = False


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self):
    global skipped
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _stats.get(self.archive) == key:
        self._files = files
        skipped += 1
        return
    _reread(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _stats[self.archive] = key
    else:
        _stats.pop(self.archive, None)


def ready() -> None:
    """Install the stat-checked zip-directory cache; idempotent."""
    global _installed
    if _installed:
        return
    _installed = True
    if sys.version_info >= (3, 13):
        return
    for path in list(zipimport._zip_directory_cache):
        key = _stat_key(path)
        if key is not None:
            _stats[path] = key
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
