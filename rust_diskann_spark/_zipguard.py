"""Stat-guarded ``zipimporter.invalidate_caches`` (CPython 3.10-3.12).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task (``worker_util.setup_spark_files``). Before 3.13 that
makes every cached zipimporter re-read its archive's directory eagerly:
16 importers over ``pyspark.zip`` (1,328 entries) cost 119-254 ms of CPU
per task on a 4-vCPU host (CPython 3.11.7), far more than the search
kernel itself. 3.13 invalidates lazily, so there the guard installs
nothing.

The guarded method re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the last read, and every
importer of that archive shares the read through
``zipimport._zip_directory_cache``. A rewritten archive (``addPyFile``)
is therefore still picked up. If ``stat`` fails, the original method runs.

The package ``__init__`` installs it, so any shipped function that
references an engine module installs it on the worker when unpickled.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp taken just before its last directory read
_stamps: dict[str, tuple[int, int, int]] = {}


def _guarded(original):
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            _stamps.pop(self.archive, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
        else:
            original(self)
            _stamps[self.archive] = stamp

    return invalidate_caches


def install() -> None:
    """Install the guard once per process; a no-op on CPython >= 3.13,
    on versions without ``zipimporter.invalidate_caches`` and when it is
    already installed."""
    current = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if sys.version_info < (3, 13) and current is not None and not installed():
        zipimport.zipimporter.invalidate_caches = _guarded(current)


def installed() -> bool:
    """True when the guarded method is in place."""
    current = getattr(zipimport.zipimporter, "invalidate_caches", None)
    return getattr(current, "__module__", None) == __name__
