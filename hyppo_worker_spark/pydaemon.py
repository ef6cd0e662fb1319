"""The engine's Python worker daemon: ``pyspark.daemon`` with zip
importers that re-read an archive only when it changed.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module. Each executor starts it as
``python -m hyppo_worker_spark.pydaemon pyspark.worker``, and it forks
one worker per Python task (reused across tasks when
``spark.python.worker.reuse`` is on). The driver-side planners of
Python data sources (``pyspark.sql.worker.*``) start
``pyspark.daemon`` by name, so they keep the stock daemon.

Why. ``pyspark.worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``, so that a zip shipped by
``addPyFile`` becomes importable. On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
whole central directory, once per importer. A worker's ``sys.path``
carries ``pyspark.zip`` (one importer per imported subpackage), the
py4j zip and the spark-core jar: 14-16 importers and 21-27k directory
entries re-read by every task, up to 0.1 s a task on a 4-core host.

What it does, before pyspark's daemon takes over:

- replaces ``zipimporter.invalidate_caches`` with a version that
  re-reads an archive only when its ``(st_size, st_mtime_ns)`` differs
  from the stamp of its last read; an archive rewritten in place is
  re-read, and a new archive gets a new importer as before;
- imports what ``pyspark.daemon`` imports and invalidates once, so the
  forked workers inherit importers that are already stamped;
- runs ``pyspark.daemon`` as ``__main__``: forking, worker reuse, the
  worker module named in ``argv`` and kill-on-flush stay pyspark's.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_size, st_mtime_ns) when its directory was last read
_STAMPS: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed
    since it was last read; otherwise share the directory read then."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None and stamp == _STAMPS.get(self.archive):
        self._files = files
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _STAMPS[self.archive] = stamp
    else:
        _STAMPS.pop(self.archive, None)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    if len(sys.argv) > 1 and sys.argv[1].startswith("pyspark"):
        importlib.import_module(sys.argv[1])
    else:
        import pyspark.worker  # noqa: F401
    importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
