"""Lazy zipimporter cache invalidation on Python < 3.13.

pyspark calls ``importlib.invalidate_caches()`` before every Python task
(``worker_util.setup_spark_files``). Up to Python 3.12 that makes every
``zipimporter`` re-read its archive's central directory at once: a Spark
Python worker holds 16 of them (pyspark.zip, the spark-core jar, py4j),
about 0.2 CPU s per task on a 4-vCPU Xeon host. Python 3.13 only drops the cached directory
and re-reads it on the next lookup; ``install`` backports that.
Import semantics are unchanged: a rewritten archive is still re-read, on
its next lookup instead of at invalidation.
"""

from __future__ import annotations

import pkgutil
import sys
import zipimport


def _files(self):
    # Python 3.13's zipimporter._get_files: a failed read is not cached.
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._zip_directory_cache[self.archive] = zipimport._read_directory(
                self.archive
            )
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def installed() -> bool:
    """Whether this process invalidates zip directories lazily."""
    return sys.version_info >= (3, 13) or isinstance(
        vars(zipimport.zipimporter).get("_files"), property
    )


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy; idempotent, a no-op on 3.13+."""
    if installed():
        return
    cls = zipimport.zipimporter
    iter_zip_modules = pkgutil.iter_importer_modules.dispatch(cls)

    def iter_modules_lazily(importer, prefix=""):
        # pkgutil reads the directory cache directly: refill it first, as a
        # lookup would (3.13.0's pkgutil raises KeyError here); an archive
        # that cannot be read lists nothing.
        if _files(importer):
            yield from iter_zip_modules(importer, prefix)

    # A data descriptor wins over the instance attribute, so importers that
    # already exist read the cache too; the only writer, __init__, stores
    # the directory it has just cached.
    cls._files = property(_files, lambda self, value: None)
    cls.invalidate_caches = _invalidate_caches
    pkgutil.iter_importer_modules.register(cls, iter_modules_lazily)
    # the directories those importers hold would otherwise never be freed
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            vars(importer).pop("_files", None)

