"""The Python worker daemon of the engine's Spark sessions
(``spark.python.daemon.module``, set in :data:`spark.session.RECOMMENDED_CONF`).

PySpark's own daemon forks every Python worker from a process that has
imported only ``pyspark.worker``; each worker then imports numpy, pandas,
pyarrow, the Arrow serializers and the engine on its own, at its first
task.  This daemon imports them once, before it forks anything, so each
worker is a copy-on-write fork that shares those modules' pages with it.
``gc.freeze()`` moves every object alive at that point into the permanent
generation, so a worker's collections never traverse them and leave the
pages they share with the daemon unwritten.  The collector stays enabled:
the workers inherit its state.

The JVM reads the daemon's port from its stdout: nothing may be printed
before ``manager()``.
"""

import gc

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
from pyspark import daemon

import fuzzy_search_spark.spark.job  # noqa: F401
from fuzzy_search_spark.spark.worker import drop_zip_importers

if __name__ == "__main__":
    drop_zip_importers()
    gc.freeze()
    daemon.manager()
