"""Spark Python daemon entry for the sessions the engine builds.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that makes
every ``zipimporter`` on the worker's path re-read its archive's central
directory: ``pyspark.zip`` and the Spark core jar, 80-200 ms per task.
This module makes a ``zipimporter`` re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` changed since this process last read
it, then runs the stock daemon. Directory finders are still invalidated, so
files added with ``addPyFile`` are still found.

Run as ``python -m lua_mapreduce_spark.pyworker`` by Spark, through
``spark.python.daemon.module`` (see ``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp taken before the read, directory dict it read);
# process-wide, like zipimport's own directory cache.
_last_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory unless it is unchanged since the
    last read; a missing archive is always handed to the stock method."""
    stamp = _stamp(self.archive)
    last = _last_read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _read_directory(self)
    _last_read[self.archive] = (stamp, self._files)


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Read each archive once here, so the forked workers start with it.
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # Run under the package name, so that name is what tasks see.
    from lua_mapreduce_spark.pyworker import main

    main()
