"""Python worker daemon: ``pyspark.daemon`` with lazy zip-importer
invalidation.

Every task's setup calls ``importlib.invalidate_caches()``.  Before
CPython 3.13 a ``zipimporter`` answers that by re-reading its archive's
central directory at once, and a worker holds one importer per package
path inside ``pyspark.zip``, the Spark jar and py4j: a warm worker
re-reads thousands of entries per task although the task imports
nothing new.  CPython 3.13 reads through the shared
``_zip_directory_cache`` and only drops the entry on invalidation, so an
archive is re-read on the next import that actually needs it.
``install_lazy_zip_invalidation`` gives older interpreters the same
behaviour; forked workers inherit it.
"""

import sys
import zipimport


def _files(self):
    """The archive's directory, read through the shared cache and read
    again only after invalidation (CPython 3.13's ``_get_files``)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        pass
    try:
        files = zipimport._read_directory(self.archive)
    except zipimport.ZipImportError:
        return {}
    zipimport._zip_directory_cache[self.archive] = files
    return files


def _invalidate_caches(self):
    """Drop the archive's cached directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install_lazy_zip_invalidation():
    """Patch ``zipimport.zipimporter`` in this process, unless the
    stdlib is already lazy."""
    importer = zipimport.zipimporter
    if hasattr(importer, "_get_files"):  # already lazy (CPython 3.13+)
        return
    # zipimporter.__init__ has already cached the listing when it
    # assigns self._files, so the setter has nothing to keep.
    importer._files = property(_files, lambda self, files: None)
    importer.invalidate_caches = _invalidate_caches
    # Importers made before the patch keep a private listing that the
    # property now shadows; free it.
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, importer):
            vars(finder).pop("_files", None)


if __name__ == "__main__":
    install_lazy_zip_invalidation()
    from pyspark import daemon

    daemon.manager()
