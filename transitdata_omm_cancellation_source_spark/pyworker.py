"""The Python-worker daemon of the engine's sessions: ``pyspark.daemon``
behind a stat-guarded zip-directory cache.

Before it runs any user code, every Python-worker task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Up to CPython 3.12 that makes each ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory.  A
worker under a Spark distribution holds 16 of them: pyspark.zip and its
subpackages, the py4j zip and the spark-core jar, 26,672 entries in all.
That costs 0.11-0.29 s per task in an idle worker (CPython 3.11.7, Spark
4.1.2; ``plans/python_worker_setup/invalidate_cost.py``), and more when
workers share the cores.

A re-read exists only to pick up an archive that changed, so the guard
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)``
differs from the stamp taken just before its last read; otherwise every
importer of that archive gets the directory that read produced.  That is
a stricter test than the one CPython itself uses to trust a ``.pyc``
(source mtime and size).  CPython 3.13 defers the re-read to the next
lookup, and there the stock method is kept.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
The daemon installs the guard, imports ``pyspark.daemon`` (which imports
``pyspark.worker``), stamps every archive with one invalidation, and runs
the stock ``pyspark.daemon.manager``.  Forked workers inherit the stamps.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

#: archive path -> (its stat stamp taken before the read, the directory read)
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    stamp = _stamp(self.archive)
    seen = _directories.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock_invalidate(self)
    if stamp is not None:
        _directories[self.archive] = (stamp, self._files)


def main() -> None:
    if sys.version_info < (3, 13):  # where the stock method re-reads eagerly
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; serve from the module
    # under its package name so the workers' guard is that module's
    from transitdata_omm_cancellation_source_spark.pyworker import main

    main()
