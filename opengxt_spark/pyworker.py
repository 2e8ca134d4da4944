"""Per-task import-cache cost inside reused PySpark Python workers.

Before every task a reused worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that
reaches ``zipimporter.invalidate_caches`` on every zip importer on the
path, and each one re-parses its archive's whole central directory. A
worker holds about 16 importers on ``$SPARK_HOME/python/lib/pyspark.zip``
(1,328 entries), so each Python task paid about 0.25 s before its first
row on a 4-core host. CPython 3.12 made that invalidation lazy.

:func:`install` replaces the method with a stat-guarded one: per archive
it keeps the parsed directory with the archive's ``(st_mtime_ns,
st_size, st_ino)`` and re-reads only when that signature changed, so all
importers of one archive share one read. The package ``__init__`` calls
it only inside a PySpark worker, which every engine UDF reaches because
it unpickles by reference into ``opengxt_spark``. No Spark conf,
parameter or environment variable is involved.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (stat signature taken before the read, parsed directory)
_DIRS: dict[str, tuple[tuple[int, int, int], dict]] = {}

_original_invalidate = zipimport.zipimporter.invalidate_caches


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guarded_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its stat signature changed since the last read."""
    archive = self.archive
    sig = _signature(archive)
    seen = _DIRS.get(archive)
    if seen is not None and seen[0] == sig:
        self._files = seen[1]
        zipimport._zip_directory_cache[archive] = seen[1]
        return
    # Stat before reading: a rewrite during the read leaves a signature
    # that no longer matches, so the next call reads again.
    _original_invalidate(self)
    if sig is not None and archive in zipimport._zip_directory_cache:
        _DIRS[archive] = (sig, self._files)
    else:
        _DIRS.pop(archive, None)


def install() -> None:
    """Put the guard on ``zipimport.zipimporter``; idempotent. Does nothing
    on CPython >= 3.12, whose stock invalidation is already lazy."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def installed() -> bool:
    """Whether this process's zip importers run the guard."""
    return zipimport.zipimporter.invalidate_caches is _guarded_invalidate
