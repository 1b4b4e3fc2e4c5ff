"""Spark's Python worker daemon, minus the per-task re-read of unchanged zip archives.

At the start of every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 every
``zipimport.zipimporter`` answers by re-parsing its archive's whole central
directory. Spark puts ``pyspark.zip`` (1,328 entries), py4j's zip and the
spark-core jar (5,359 entries) first on the workers' ``PYTHONPATH``, so a
worker holds one zipimporter per imported pyspark subpackage plus the two
others: 16 importers walking 26,672 entries, 0.22-0.31 s of CPU per task
on a 4-core x86 host, before the task's function runs.

Run as the daemon (``get_spark`` sets ``spark.python.daemon.module`` to this
module), it replaces ``zipimporter.invalidate_caches`` with
:func:`invalidate_caches`: an archive whose ``(st_mtime_ns, st_size,
st_ino)`` is unchanged since it was last read keeps its parsed directory; a
changed, missing or never-read archive goes through the original method.
It then runs ``pyspark.daemon.manager()``, whose forked workers inherit the
replacement. Importing this module changes nothing.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat key at its last read


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    # stat before the read: an archive replaced during it shows a new key next time
    _original_invalidate(self)
    if key is None:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = key


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    # install the importable module's copy: a worker that imports
    # pyogrio_spark._daemon then sees the state in use and the true original
    from pyogrio_spark._daemon import invalidate_caches as installed

    zipimport.zipimporter.invalidate_caches = installed
    # read each archive once here, so every forked worker starts with its key
    importlib.invalidate_caches()
    manager()
