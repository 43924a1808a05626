"""Python-worker daemon that pre-imports the heavy Arrow/pandas stack.

Spark forks one Python worker per concurrent task slot from a
per-executor daemon process (``pyspark/daemon.py``); a freshly forked
worker inherits the daemon's imported modules via copy-on-write, so
every import done HERE — once per executor — is an import NO worker
pays at fork time.  Stock ``pyspark.daemon`` imports ``pyspark.worker``
but not pandas/pyarrow/numpy: those load lazily inside each worker when
the first Arrow batch is deserialized.

Why it matters (measured, round 14, local[32]): 32 workers importing
that stack simultaneously cost ~0.9 s wall and **~20 s of CPU** — CPU
that contends with whatever kernels are actually running when the pool
grows mid-session (the fork storms observed alongside the
``skyline_anti_3d_1m`` cache regressions, SCALE.md).  The same 32
forks from a preloaded parent measure 0.06 s wall with zero import
CPU.  At cluster scale the arithmetic is per executor: the import tax
is paid once per executor instead of once per worker slot × every
pool growth.

Cost: the daemon process holds the imported stack resident (~150 MB)
once per executor; forked workers share those pages copy-on-write.

Second cost, paid per TASK rather than per fork: every Python task runs
pyspark's ``worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory — 16 importers per worker on a local
session (12 for pyspark.zip, 1,328 entries; 2 for the spark-core jar
Spark puts on the worker's path, 5,359 entries; 2 for py4j), about
0.12 s of CPU before each task's function starts, on every core at
once.  This module wraps ``zipimporter.invalidate_caches`` so that an
archive is re-read only when its ``(st_size, st_mtime_ns)`` moved since
its last read; otherwise the importer re-binds the cached directory.
Archives added later (``addPyFile``) get new importers, and a rewritten
archive is still re-read (unless the rewrite keeps both its size and
its nanosecond mtime).  The stamp check holds whatever the interpreter's
own ``invalidate_caches`` does, so it needs no version branch (CPython
3.11.7 re-reads eagerly).  Measured on 4 CPUs:
``invalidate_caches()`` inside a task 120-136 ms -> ~0.2 ms; a one-task
``mapInPandas`` job, median of 15, 167 ms -> 129 ms.  Like the
preload itself this is local-mode only: a cluster deployment that does
not run this daemon module pays the re-read on every task.

Wiring: ``session.get_spark`` sets ``spark.python.daemon.module`` to
this module (and exports the package onto ``PYTHONPATH`` for the
executor-side interpreter) unless ``SPARK_GRAFT_NO_PRELOAD_DAEMON`` is
set.  The module ends by delegating to the stock ``pyspark.daemon``
manager, so worker-module selection (``sys.argv``) and the fork/reuse
protocol are byte-for-byte Spark's own.
"""

from __future__ import annotations

import os
import zipimport

# The preload set: everything a pandas-UDF worker imports before it can
# run a kernel.  pyspark.sql.pandas.serializers transitively pulls the
# Arrow<->pandas conversion layer; pyspark.worker is the worker main.
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.worker  # noqa: F401
from pyspark.daemon import manager

# fork-inherited marker so tests (and kernels, if ever needed) can prove
# their worker was forked from the preloading daemon
os.environ["SPARK_GRAFT_PRELOAD_DAEMON"] = "1"


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


# Stamp of each archive's directory as last read into
# zipimport._zip_directory_cache, seeded with what the preload read.
_zip_stamps = {a: _archive_stamp(a) for a in zipimport._zip_directory_cache}
_stock_zip_invalidate = zipimport.zipimporter.invalidate_caches


def _zip_invalidate_if_changed(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive's central
    directory only when the file's (size, mtime_ns) moved since the last
    read; otherwise the importer re-binds the cached directory."""
    stamp = _archive_stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _stock_zip_invalidate(self)
    _zip_stamps[self.archive] = stamp


zipimport.zipimporter.invalidate_caches = _zip_invalidate_if_changed

if __name__ == "__main__":
    manager()
