"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

Every Python UDF task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()`` so that files added with
``sc.addPyFile`` become importable. On CPython versions whose
``zipimporter.invalidate_caches`` re-reads its archive eagerly (3.11 and
earlier), that re-reads ``pyspark.zip``'s central directory (1,328
entries) once per zip importer, and a worker holds one importer per
package dir: 63-106 ms of every task, before the first row.

This module wraps ``zipimport.zipimporter.invalidate_caches`` so that an
importer re-reads its directory only when its archive's
``(st_mtime_ns, st_size)`` changed since that importer last read it, or
when the archive can no longer be stat'ed. Path finders are invalidated
as before, so a new ``sys.path`` entry and a rewritten archive are both
seen. Then it runs pyspark's own daemon, whose forked workers inherit the
wrapper. Where the running Python's ``zipimporter`` already invalidates
lazily (it has ``_get_files``), nothing is wrapped.

Run as ``python -m snowflake_data_pipeline_demo_spark.pyworker``, which is
how Spark starts the daemon once :func:`session.get_spark` names it.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport

#: ``(st_mtime_ns, st_size)`` of each importer's archive when it last
#: read it; ``None`` (not stat'ed) never matches, so it forces a re-read
_stamps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_original = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive is
    unchanged since this importer last read it."""
    stamp = _stamp(self.archive)
    if stamp is None or _stamps.get(self) != stamp:
        _original(self)
    _stamps[self] = stamp


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (on an eager CPython only)
    and stamp the zip importers that exist now with their archives'
    current state, which is the state they were read in."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _stamps[finder] = _stamp(finder.archive)


if __name__ == "__main__":
    from pyspark import daemon

    # install from the module under its package name, not from this
    # ``__main__`` copy, so a worker's wrapper names the engine module
    from snowflake_data_pipeline_demo_spark import pyworker

    pyworker.install()
    daemon.manager()
