"""Python worker daemon with a cheaper per-task import-cache reset.

``get_spark()`` selects this module with ``spark.python.daemon.module``;
Spark then starts the worker pool as ``python -m rsoup_spark._pydaemon``
instead of ``python -m pyspark.daemon``.

Why: before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On Python 3.11 that makes every
cached ``zipimport.zipimporter`` re-read its archive's whole central
directory -- ``pyspark.zip`` has 1,328 entries and a worker holds about
16 importers into it -- which cost ~0.3 s per task, far more than most
tasks' own work.  This daemon replaces
``zipimporter.invalidate_caches`` with a version that re-reads the
archive only when its ``(st_mtime_ns, st_size)`` changed since this
importer last read it.  Every other finder (``FileFinder``, meta-path
finders) is still invalidated as before, and a zip added with
``addPyFile`` gets a new ``sys.path`` entry and so a fresh importer.

Why the daemon module and not ``spark.python.worker.module``:
``pyspark/daemon.py`` imports a configured worker module only when its
name starts with ``pyspark`` and silently falls back to
``pyspark.worker`` otherwise.  The daemon module has no such check.
Workers are forked from the daemon, so the patch installed here is in
every worker.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """Re-read the archive's directory only if the file changed (or is
    gone) since this importer last read it."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_rsoup_stamp", None):
        return
    _original_invalidate(self)
    self._rsoup_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def installed() -> bool:
    """True when this process runs the patched invalidation."""
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed


if __name__ == "__main__":
    import importlib

    # patch through the importable module, so ``installed()`` called
    # from a task (which imports rsoup_spark._pydaemon, not __main__)
    # sees the same function
    from rsoup_spark._pydaemon import install as _install

    _install()
    # pyspark.daemon reads the worker module from sys.argv at import
    from pyspark import daemon

    # stamp the importers the daemon holds now, so forked workers start
    # with current stamps instead of each re-reading pyspark.zip once
    importlib.invalidate_caches()
    daemon.manager()
