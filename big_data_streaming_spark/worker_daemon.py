"""Python worker daemon: ``pyspark.daemon`` with lazy zip-directory
invalidation (``spark.python.daemon.module``, set in ``session.py``).

Every Python task runs ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). On CPython < 3.12 that makes each
``zipimporter`` on the worker's path re-read its archive's central
directory at once: 16 of them (``pyspark.zip`` and its subpackage paths,
the py4j zip, the spark-core jar), 0.16-0.24 CPU-s per task
(BENCH_NOTES.md, "What `py_init` measures"). CPython 3.12 made the call
lazy: it drops the archive's cached directory and the next lookup in that
archive re-reads it once. This module installs the 3.12 form before the
daemon forks its workers. It imports nothing else from the package.
"""

import sys
import zipimport

if sys.version_info < (3, 12):

    def _files(self):
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
        zipimport._zip_directory_cache.pop(self.archive, None)

    # A data descriptor outranks the instance dict, so importers made
    # before this point read the shared cache too; __init__'s assignment
    # is dropped because it has already filled that cache.
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
