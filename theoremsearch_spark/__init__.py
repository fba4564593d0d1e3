"""PySpark-native inverted index + BM25 serving.

Importing the package inside a PySpark worker also installs the lazy
zip-directory invalidation below; on the driver it does nothing.
"""

from __future__ import annotations

import sys


def _lazy_zip_invalidation() -> None:
    """Give every `zipimporter` in this PySpark worker CPython 3.13's
    `invalidate_caches`: drop the shared directory-cache entry instead
    of re-parsing the archive right away.

    Each Python task starts with `importlib.invalidate_caches()`
    (pyspark `worker_util.setup_spark_files`). The worker imports
    pyspark from `pyspark.zip` through one `zipimporter` per package
    directory, and up to CPython 3.12 each of them re-reads the whole
    archive directory on that call: a fixed CPU cost paid by every task
    of every job, measured at 0.19 s of CPU a task on a 4-core host.

    Sound because the archives on a worker's path never change while
    the worker lives, so the directory an importer holds stays exact.
    An archive added later (`addPyFile`) is a new path entry and gets
    its own importer, which reads its own directory when it is made.

    Runs only inside a task (a TaskContext is set) and only before 3.13,
    where the interpreter already behaves this way; the driver's
    `zipimport` is never touched."""
    if sys.version_info >= (3, 13):
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return
    import zipimport

    def invalidate_caches(self) -> None:
        zipimport._zip_directory_cache.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()
