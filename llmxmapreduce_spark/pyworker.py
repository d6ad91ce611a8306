"""The Python worker daemon of every session ``session.get_spark`` builds.

It is ``pyspark.daemon`` with one change: ``zipimporter.invalidate_caches``
re-reads an archive's central directory only when the archive has changed
on disk.  Every Python task calls ``importlib.invalidate_caches()`` before
it unpickles its function, and on Python 3.11 each zipimporter (one per
imported package directory of ``pyspark.zip`` and the spark-core jar on
the worker path) then re-reads its whole archive.

Spark starts it as ``python -m llmxmapreduce_spark.pyworker``; the forked
workers inherit the patch, and importing the module changes nothing.
"""

from __future__ import annotations

import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}  # archive -> stamp at last read


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its ``(st_mtime_ns, st_size)`` differs from the stamp of its last read,
    or when the ``stat`` fails; otherwise the importer takes the directory
    that read left in ``zipimport._zip_directory_cache``."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _stamps[self.archive] = stamp  # taken before the read it stamps
        _read(self)
    else:
        self._files = files


if __name__ == "__main__":
    from pyspark.daemon import manager

    # the package module's function, not this __main__ copy's: a worker
    # can tell which daemon it runs under from the patch's __module__
    from llmxmapreduce_spark.pyworker import invalidate_caches as _checked

    zipimport.zipimporter.invalidate_caches = _checked
    manager()
