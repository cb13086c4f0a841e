"""Worker-side set-up shared by every function the job ships to Python
workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On Python >= 3.10
that makes every ``zipimport.zipimporter`` cached in
``sys.path_importer_cache`` re-read its archive's central directory.  A
reused worker holds one per imported sub-package of ``pyspark.zip``, two
on the spark-core jar and two on py4j.  Parsing those directories again
is a fixed cost of every task, paid before the task reaches any of the
job's code, and on short tasks it outweighs the task's own work.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_importers() -> None:
    """Delete every zipimporter from ``sys.path_importer_cache``.

    The import system documents that dict as a cache: the next import that
    needs one of those path entries rebuilds its finder from
    ``sys.path_hooks``, and the rebuilt zipimporter takes the archive's
    directory from zipimport's own cache without reading the file again.
    Called first thing in every task, it leaves a reused worker no
    zipimporter for the next task's ``invalidate_caches()`` to refresh.
    Modules already imported keep their loaders, so nothing is unloaded.
    """
    cache = sys.path_importer_cache
    for path in [p for p, finder in cache.items()
                 if isinstance(finder, zipimport.zipimporter)]:
        del cache[path]
