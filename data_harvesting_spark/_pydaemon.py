"""Python worker daemon for the engine's Spark sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark forks every Python worker (pandas/Arrow UDFs, ``applyInPandasWithState``
handlers) from it instead of from ``pyspark.daemon``.  It changes one thing
before handing over to ``pyspark.daemon.manager()``.

At the start of every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
directory, and a worker holds one importer per imported sub-package of
Spark's ``pyspark.zip`` (1,328 entries): about 150 ms of CPU per task, spent
re-reading archives that cannot change while the worker lives.

The replacement below still invalidates every finder, except importers over
archives that were already on ``sys.path`` when the daemon started (Spark's
``pyspark.zip`` and py4j zip).  Archives added later (``addPyFile``) and all
directory finders are invalidated on every task, as before.  Forked workers
inherit the replacement.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_all = importlib.invalidate_caches

# archive files on sys.path at daemon start (directories are never skipped)
_FIXED_ARCHIVES = frozenset(p for p in sys.path if os.path.isfile(p))


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` without re-reading the fixed archives."""
    fixed = {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
        and finder.archive in _FIXED_ARCHIVES
    }
    for path in fixed:
        del sys.path_importer_cache[path]
    try:
        _invalidate_all()
    finally:
        sys.path_importer_cache.update(fixed)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
