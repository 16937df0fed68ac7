"""Skip re-reading unchanged zip archives in ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker_util.setup_spark_files``). Below CPython
3.13, that makes every cached ``zipimporter`` re-read its archive's
central directory at once. A worker that imports PySpark from
``pyspark.zip`` holds one importer per imported subpackage (14 in an
engine task), so each task re-reads the 3.5 MB archive's directory 14
times: 150–180 ms per Python task on a 4-vCPU VM, where the task's own
work is often a few milliseconds.

:func:`install` replaces ``zipimport.zipimporter.invalidate_caches`` with
a version that re-reads an archive only when its ``(st_mtime_ns,
st_size)`` differs from the last read. The package imports this module,
and every Python worker that unpickles an engine function imports the
package, so the fix is in place from a worker's second task on. CPython
3.13 re-reads lazily (``zipimporter._get_files``); there :func:`install`
does nothing.
"""

from __future__ import annotations

import os
import zipimport

#: archive path → (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}
_original = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """Reload the archive's file data if the archive changed on disk."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        # another importer of the same archive may have re-read it
        self._files = cached
        return
    _original(self)
    if stamp is None or self.archive not in zipimport._zip_directory_cache:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def state() -> str:
    """``"lazy"`` where the interpreter already re-reads lazily, ``"active"``
    where this module's version is installed, ``"off"`` otherwise."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return "lazy"
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return "active"
    return "off"


def install() -> str:
    """Install the stamp-checked ``invalidate_caches`` (idempotent) and
    return :func:`state`."""
    if state() == "off":
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return state()
