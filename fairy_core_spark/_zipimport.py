"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zips.

PySpark's Python worker calls ``importlib.invalidate_caches()`` once per
task (``pyspark/worker_util.py:setup_spark_files``). On CPython 3.10–3.12,
``zipimport.zipimporter.invalidate_caches`` then re-reads its archive's
whole central directory, once per importer. A worker holds one importer per
imported package directory of each zip on its path: a local worker of this
engine holds 16, twelve on pyspark.zip (1,328 entries) and two each on the
spark-core jar (5,359) and py4j's zip. That took 0.14–0.24 s of CPU per
task (local worker, 4-core x86 box) before any UDF ran. Under
``--py-files`` the engine's own zip adds four more importers.

``install()`` replaces that method with one that re-reads an archive only
when its ``(size, mtime_ns)`` differs from the stamp taken at its last read
through this method, or when the archive has no cached directory; otherwise
the importer re-points at the shared ``zipimport._zip_directory_cache``
entry. A rewritten or removed archive goes through the stock method, so it
behaves exactly as before. CPython 3.13 already only drops the cache entry
there, so the method is left alone on 3.13 and later.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (size, mtime_ns) when the directory was last read here
_stamps: dict[str, tuple[int, int]] = {}
_stock = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # the stamp predates this read: a write during the read leaves the stamp
    # stale, so the next call reads again rather than trust a half-seen zip
    _stock(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` once per process
    (a no-op on CPython 3.13+, where it no longer reads the archive)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
