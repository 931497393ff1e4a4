"""PySpark worker daemon that re-reads a zip archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, and on CPython 3.11 each ``zipimporter`` in
``sys.path_importer_cache`` then re-reads its archive's whole central
directory: 16 reads and ~0.1 s per task for the importers over
``pyspark.zip`` and py4j's zip.
Run as ``python -m`` (``spark.python.daemon.module``, set by
``session.get_spark``), this module swaps that re-read for one keyed on
the archive's ``(st_mtime_ns, st_size)`` -- the rule ``FileFinder``
applies to directories -- and hands off to PySpark's daemon, so every
forked worker inherits it. Importing the module changes nothing.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> its (st_mtime_ns, st_size) at its last read
_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, minus the read of an archive
    whose stamp matches its last read (any importer's)."""
    archive = importer.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    # A failed read drops the archive from the cache, so it is read again.
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        importer._files = files
        return
    _reread(importer)
    _stamps[archive] = stamp


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()  # stamp each archive once, before the forks
    daemon.manager()
