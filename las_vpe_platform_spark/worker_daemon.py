"""Python worker daemon with a stat-checked zipimport directory cache.

Why this exists: PySpark calls ``importlib.invalidate_caches()`` at the
start of every Python task (``pyspark/worker_util.setup_spark_files``),
and on CPython < 3.13 ``zipimporter.invalidate_caches`` re-reads the
archive's whole central directory, once per cached importer. A reused
worker holds about 20 importers over ``pyspark.zip`` (one per
sub-package, 1,328 entries) plus two over the Spark core jar on the
worker ``PYTHONPATH``, so every ``mapInPandas``/pandas-UDF task paid
125-460 ms of directory reads on a 4-core host before the UDF started.

:func:`install` keeps the stdlib's meaning without the repeated reads:
every directory read records the archive's ``os.stat`` key
(``st_mtime_ns``, ``st_size``, ``st_ino``) taken just before the read,
and ``invalidate_caches`` re-reads only when that key changed. A
rewritten archive, even one rewritten at the same path, is re-read;
an unchanged one keeps its listing. Which module gets imported is the
same as without the patch.

``session.get_spark`` runs this module as ``spark.python.daemon.module``,
so the patch lands once in the daemon, before any worker forks.

What would let it go: CPython >= 3.13 on the workers (its
``invalidate_caches`` only drops the cached listing and reads lazily;
:func:`install` is a no-op there), or PySpark no longer calling
``invalidate_caches`` per task.

Top-level imports are the stdlib only, and ``pyspark`` under
``__main__``: if this daemon cannot start, every Python UDF fails.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key taken just before its last directory read
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _read_directory_stamped(archive, _read=zipimport._read_directory):
    # stat BEFORE the read: a write racing the read leaves an older
    # key, which only costs one more read later
    stamp = _stamp(archive)
    files = _read(archive)
    if stamp is None:
        _STAMPS.pop(archive, None)
    else:
        _STAMPS[archive] = stamp
    return files


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    """Re-read the archive's directory only if its stat key changed."""
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _STAMPS.get(self.archive)
    if files is not None and stamp is not None and stamp == _stamp(self.archive):
        self._files = files
        return
    _reread(self)


def install() -> None:
    """Patch zipimport in this process (idempotent; no-op on 3.13+)."""
    if sys.version_info >= (3, 13):
        return
    zipimport._read_directory = _read_directory_stamped
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    import importlib

    # install from the importable module, not this __main__ copy, so
    # workers report the patched method under its real module name
    from las_vpe_platform_spark.worker_daemon import install as _install
    from pyspark.daemon import manager

    _install()
    # one stamped read per archive here, inherited by every forked worker
    importlib.invalidate_caches()
    manager()
