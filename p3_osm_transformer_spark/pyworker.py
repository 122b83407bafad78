"""PySpark worker daemon that keeps the import caches of unchanged zips.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
so that files shipped with the task become importable.  On CPython 3.11
that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole directory: ~16 importers over the 1,328-entry pyspark.zip,
about 0.2 CPU-s per task whatever its row count.  This daemon's
``invalidate_caches`` sets aside each zip importer whose archive's (mtime,
size) has not changed since this process last read it, runs the original,
and puts them back.  The rest is untouched: directory finders are reset,
new or rewritten zips are read, relative path entries are dropped.

Spark starts it as ``spark.python.daemon.module`` (session.worker_confs);
``spark.python.worker.module`` cannot carry it, since pyspark's daemon only
honours worker modules named ``pyspark*``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_original = importlib.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}   # archive -> stamp at last read


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches() -> None:
    stamps = {}     # taken before the read, so a rewrite during it shows
    kept = {}
    for name, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(name):
            arc = finder.archive
            stamps.setdefault(arc, _stamp(arc))
            if stamps[arc] is not None and _read_at.get(arc) == stamps[arc]:
                kept[name] = sys.path_importer_cache.pop(name)
    try:
        _original()
    finally:
        sys.path_importer_cache.update(kept)
    _read_at.update(stamps)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager
    manager()
