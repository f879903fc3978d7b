"""Re-read a zip on ``sys.path`` only when the archive has changed.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python worker task.
Before CPython 3.13, that makes every ``zipimporter`` on the worker's path
re-read its archive's whole directory: 16 importers over ``pyspark.zip``, the
Spark core jar, ``py4j`` and the shipped ``gdal_spark.zip``, ~27k entries and
about 0.2 s of CPU per task on a 4-vCPU VM. CPython 3.13 made the call lazy
(gh-103200), so there the stdlib method is kept.

``install()`` wraps ``zipimporter.invalidate_caches`` so an archive whose
``(st_mtime_ns, st_size)`` matches the last read reuses that read; the
importers of one archive share it. A changed archive, or one that cannot be
stat'ed, takes the original path. Workers install it by importing
``gdal_spark``, which every engine UDF and broadcast index does when it is
unpickled. Delete this module once the engine requires Python >= 3.13.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> ((st_mtime_ns, st_size), directory read at that stamp)
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process (< 3.13 only)."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "__wrapped__"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            _reads.pop(self.archive, None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = _reads.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        original(self)
        _reads[self.archive] = (stamp, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
