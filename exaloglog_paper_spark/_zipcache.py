"""Stat-checked zip directory invalidation for Python < 3.13.

Every Spark Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that makes
every ``zipimport.zipimporter`` re-parse its archive's whole zip directory
in pure Python; 3.13 made the invalidation lazy. A Spark 4.1 worker holds
16 such importers over ``pyspark.zip`` (1,328 entries), the py4j zip and
``spark-core_2.13-4.1.2.jar`` (5,359 entries), so on a 4-core box with
CPython 3.11.7 each task paid 110-250 ms before its first batch: cProfile
inside a worker showed 16 ``_read_directory`` and 186,704
``_unpack_uint16`` calls per task, against microseconds of sketch work.

``invalidate_caches`` below re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken at its last read,
and on a first call or a stat error, so a rewritten zip is still picked
up. Importers of the same archive share one read, as they share
``zipimport._zip_directory_cache``. The package installs it on import, so
each reused worker pays the re-read on its first engine task only.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read,
# None when that stat failed
_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's file data if the archive changed on disk."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate_caches(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Replace the stdlib method, then stamp the importers already cached
    (one read per archive) so that the next invalidation re-reads nothing."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()
