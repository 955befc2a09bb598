"""Skip re-reading unchanged zip archives in PySpark worker processes.

Every PySpark worker invocation calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimporter.invalidate_caches`` then re-reads its archive's whole
central directory, and a worker holds one zipimporter per imported
subpackage of ``pyspark.zip`` and of the spark-core jar that Spark puts
on the worker PYTHONPATH: ~0.33 s of CPU per invocation for archives
that never change. The replacement below re-reads an archive only when
its ``(st_mtime_ns, st_size)`` moved since the last read, so a new or
rewritten file (``addPyFile``) is still picked up. The package
``__init__`` applies it only inside a worker (``pyspark.worker`` is
imported there, never in the driver) and only where the eager re-read
exists.
"""

from __future__ import annotations

import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _original(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter``. The directories already cached were read
    moments ago by this invocation's ``setup_spark_files``, so they are
    stamped as current."""
    for archive in zipimport._zip_directory_cache:
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = invalidate_caches
