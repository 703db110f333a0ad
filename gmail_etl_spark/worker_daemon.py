"""PySpark worker daemon that re-reads a zip archive only when it changed.

Every Python task runs pyspark's ``setup_spark_files``, which calls
``importlib.invalidate_caches()``.  On CPython 3.12 and earlier that makes
each ``zipimporter`` re-read its archive's whole directory: a worker holds
16 of them on the 1,328-entry ``pyspark.zip``, 0.13-0.42 s per task on
4 vCPUs.  :func:`install` makes
``zipimporter.invalidate_caches`` reload only when the archive's
(mtime_ns, size) changed, which is what 3.13+ does lazily.  Run as the
daemon (``spark.python.daemon.module``), this module installs that, stamps
the importers once and then serves ``pyspark.daemon``, so every forked
worker inherits the patch and the stamps.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reload = zipimport.zipimporter.invalidate_caches


def _stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stat(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reload(self)
        self._stamp = stamp


def install() -> None:
    """Patch every zipimporter to re-read its archive only when it changed."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._stamp = _stat(importer.archive)
    daemon.manager()
