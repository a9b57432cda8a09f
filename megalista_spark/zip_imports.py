"""A zipimporter for Python workers that outlive their tasks.

pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
before every task, even in a reused worker. On Python 3.11 a plain
``zipimporter`` answers by re-reading its archive's whole central directory
(pyspark.zip, the spark-core jar), although neither changes while the
worker lives. The sink's upload, the operators' ``mapInPandas`` and
``applyInPandas`` kernels and the streaming ``applyInPandasWithState``
functions call ``install_stamped_zipimporter`` first, so the worker's later
tasks skip those re-reads.
"""

from __future__ import annotations

import os
import sys
import zipimport


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive's
    directory only when the archive's (mtime, size) differs from its last
    re-read, or cannot be stat'ed. Its first invalidation always re-reads,
    so a directory cached before the stamp was taken is never kept."""

    _stamp: tuple[int, int] | None = None

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install_stamped_zipimporter() -> None:
    """Idempotent. New zip entries on ``sys.path`` get the subclass through
    the path hook; the zipimporters already cached switch class in place,
    so the modules they loaded keep the loader that is invalidated."""
    hooks = sys.path_hooks
    if zipimport.zipimporter in hooks:
        hooks[hooks.index(zipimport.zipimporter)] = StampedZipImporter
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = StampedZipImporter
