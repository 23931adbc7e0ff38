"""Python worker daemon with lazy zip-cache invalidation.

Run as ``spark.python.daemon.module`` (see ``session.get_spark``).  Every task
calls ``importlib.invalidate_caches()``; before CPython 3.13 that makes each
cached ``zipimporter`` re-read its whole archive directory (pyspark.zip and
the spark-core jar: ~200 ms per task).  ``LazyZipImporter`` backports 3.13's
semantics: invalidation drops the shared directory entry and the next lookup
re-reads the archive once, so a changed archive is still picked up.
"""

import sys
import zipimport


class LazyZipImporter(zipimport.zipimporter):
    @property
    def _files(self):
        cache = zipimport._zip_directory_cache
        if self.archive not in cache:
            try:
                cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
        return cache[self.archive]

    @_files.setter
    def _files(self, files):  # zipimporter.__init__ fills the shared cache
        pass

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Route new zip path entries through ``LazyZipImporter`` (Python < 3.13)."""
    if sys.version_info >= (3, 13):
        return
    sys.path_hooks[:] = [LazyZipImporter if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
