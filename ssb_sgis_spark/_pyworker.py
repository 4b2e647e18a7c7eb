"""Executor Python worker fix-up: lazy ``zipimport`` invalidation.

PySpark starts every Python task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Up to CPython 3.12,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory at once, and a warm worker holds one importer per imported
subpackage of ``pyspark.zip`` plus the Spark jars on its path: that is
150-230 ms of every task (measured on a 4-vCPU host) spent re-reading
archives nothing will import from.  CPython 3.13 made the invalidation
lazy (``zipimporter._get_files``): it drops the archive from
``zipimport._zip_directory_cache``, and the next lookup reads it again.
:func:`install_lazy_zipimport` backports that behaviour, in executor
workers only, and only where the interpreter lacks it.
"""

import zipimport


def _files(self):
    """The archive's directory, read again only after an invalidation
    (CPython 3.13's ``zipimporter._get_files``)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self):
    """Forget the archive's directory; the next lookup reads it again."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install_lazy_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy inside a Spark task.

    A no-op on the driver (no ``TaskContext``) and wherever ``zipimport``
    is already lazy (it has ``zipimporter._get_files``, CPython >= 3.13)."""
    from pyspark import TaskContext

    zi = zipimport.zipimporter
    if TaskContext.get() is None or hasattr(zi, "_get_files"):
        return
    # a no-op setter: ``zipimporter.__init__`` assigns ``_files`` before
    # ``archive`` exists, and the directory is in the cache by then
    zi._files = property(_files, lambda self, files: None)
    zi.invalidate_caches = _invalidate_caches
