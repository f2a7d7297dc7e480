"""Keep a Spark Python worker from re-reading zip archives on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
each task (``pyspark.worker_util.setup_spark_files``). On CPython
3.10-3.12 that reaches ``zipimport.zipimporter.invalidate_caches``,
which eagerly re-parses the central directory of every archive on
``sys.path``: ``pyspark.zip``, the py4j zip and the ``spark-core`` jar,
about 16 importers and 26.7k entries, parsed in pure Python. Inside a
worker that costs 140-250 ms per task, while a whole JVM-only stage
takes about 40 ms. CPython 3.13 made the re-read lazy.

Importing the package runs ``skip_zip_rereads_in_worker``. Every engine
UDF's pickled closure imports the package, so the first task in each
worker applies it and the worker's later tasks skip the re-read. It
replaces the method with a no-op only on CPython < 3.13 and only inside
a worker (a live ``TaskContext``); the driver keeps stock import
behaviour. This is safe because:

- the archives on a worker's path do not change while the worker lives;
- an archive added later (``addPyFile``) gets a new importer, which
  reads its directory once when it is created;
- directory ``FileFinder`` caches are still invalidated by the same
  ``importlib.invalidate_caches()`` call.

If the patch ever stops applying, Python stages get slower, not broken.
``spark.python.daemon.module`` is not an alternative: the daemon starts
before ``--py-files`` reach ``sys.path``, so a package shipped that way
would break every Python stage.
"""

from __future__ import annotations

import sys


def _keep_archive_directory(self) -> None:
    """No-op ``zipimporter.invalidate_caches``: keep the directory the
    importer read when it was created."""


def skip_zip_rereads_in_worker() -> None:
    if sys.version_info >= (3, 13):
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    import zipimport

    zipimport.zipimporter.invalidate_caches = _keep_archive_directory
