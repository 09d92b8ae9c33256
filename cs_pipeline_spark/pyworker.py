"""PySpark worker daemon with stamp-checked zip import caches.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so Spark starts its Python worker daemon as
``python -m cs_pipeline_spark.pyworker`` instead of ``-m pyspark.daemon``.
Everything after start-up is pyspark's own daemon (``manager()``).

Why: every Python task (``mapInPandas``, ``applyInPandas``, Python
UDFs, ``createDataFrame`` and RDD scans) runs pyspark's
``worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython 3.11/3.12 that makes every
``zipimporter`` on the worker path re-read its archive's central
directory at once: ``pyspark.zip`` (~1,300 entries), the py4j zip and the
spark-core jar, ~16 importers in all. That is ~0.1 s of fixed cost per
task that does no work.

The patch keeps the semantics and drops the repeat reads: an importer's
``invalidate_caches`` re-reads its archive only when the archive's
``(st_ino, st_size, st_mtime_ns)`` stamp differs from the one recorded
at the last read, and otherwise reuses ``zipimport._zip_directory_cache``.
A zip that ``addPyFile`` adds or rewrites is therefore still re-read. On
an interpreter whose ``zipimport`` lacks the internals the patch needs
(``patchable``), ``zipimport`` stays as it is and only the daemon starts.

The daemon imports pandas and pyarrow before it forks any worker.
Spark kills a worker after 60 s without a Python task, and every worker
forked later used to import both again: a 4-task ``mapInPandas`` after
75 s idle took 1.7-1.9 s, and 0.3-0.8 s with the imports done in the
daemon (4 cores). The imports start no Python thread, so the daemon
still forks from a single-threaded interpreter.

``get_spark`` also sets ``spark.python.unix.domain.socket.enabled``, and
``manager()`` then listens on a Unix-domain socket. Over loopback TCP
the JVM writer sets no ``TCP_NODELAY`` and neither does the worker, so
Nagle holds the last small segment of a task's input until the worker
ACKs it, and Linux delays that ACK by ~40 ms: a 10-row ``mapInPandas``
task spent 40-44 ms reading its input on a reused connection, against
0.6-1.7 ms over the Unix socket. A session built without ``get_spark``
(the driver's vanilla one, ``tools/check.py --vanilla``) uses pyspark's
own daemon over TCP and still pays it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stamp of the file the cached directory was read from
_STAMPS: dict[str, tuple[int, int, int]] = {}
_ORIGINAL = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = self.archive
    # stat BEFORE reading: a write racing the read leaves the old stamp
    # behind, so the next call re-reads rather than trusting a stale list
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _STAMPS.get(archive) == stamp:
        self._files = cached
        return
    _ORIGINAL(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _STAMPS[archive] = stamp
    else:
        _STAMPS.pop(archive, None)


def patchable() -> bool:
    """True when ``zipimport`` has the eager-reread shape the patch targets:
    a module-level directory cache, ``_read_directory``, and importers
    that keep their directory in ``_files`` (no lazy ``_get_files``)."""
    zi = zipimport.zipimporter
    return (
        isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
        and callable(getattr(zipimport, "_read_directory", None))
        and callable(getattr(zi, "invalidate_caches", None))
        and not hasattr(zi, "_get_files")
    )


def patch_zipimport() -> bool:
    """Install the stamp-checked ``invalidate_caches``; False if unpatched.

    Stamps every zip importer already in ``sys.path_importer_cache`` with
    one read of each archive, so the first task after a fork finds them
    current.
    """
    if not patchable():
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    return True


def preload() -> None:
    """Import what every Arrow task imports, once, before the first fork."""
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401


def main() -> None:
    # pyspark.daemon picks the worker module from argv at import time and
    # imports the worker (and pyspark) before we stamp, so the stamped
    # importers are the ones every forked worker inherits
    from pyspark import daemon

    preload()
    patch_zipimport()
    daemon.manager()


if __name__ == "__main__":
    main()
