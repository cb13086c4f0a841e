"""SparkSession construction with the engine's recommended conf.

Defaults are tuned for correctness-at-scale first: AQE on (runtime skew
re-planning), Arrow enabled for pandas UDFs, bounded Arrow batch sizes so a
batch of giant documents cannot blow executor memory.

``spark.python.daemon.module`` names the engine's own worker daemon
(:mod:`spark.daemon`).  It imports numpy, pandas, pyarrow, the Arrow
serializers and the job's modules once and freezes its heap before it
forks any Python worker, so the workers share those pages with it instead
of each importing them again.  The daemon is started as
``python -m fuzzy_search_spark.spark.daemon``, before any task, so the
executors need the package importable exactly as the job's UDFs do,
without the task's help: installed, or on their ``PYTHONPATH``.  An
archive shipped with ``--py-files`` or ``addPyFile`` is put on a worker's
``sys.path`` by each task, too late for the daemon (YARN also puts it on
``PYTHONPATH``, other cluster managers do not); so when the driver itself
imported the package from an archive, the key is left out and the workers
fork from ``pyspark.daemon``.  A caller's ``conf`` overrides every key
here, this one included.
"""

from __future__ import annotations

import os
import zipimport
from typing import Dict, Optional

from pyspark.sql import SparkSession

import fuzzy_search_spark

RECOMMENDED_CONF: Dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # giant documents: cap rows per Arrow batch so the JVM->Python channel
    # streams steadily instead of shipping one huge batch
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # fork the Python workers from a daemon that holds the match stage's
    # imports (spark/daemon.py)
    "spark.python.daemon.module": "fuzzy_search_spark.spark.daemon",
}


def _session_conf(conf: Optional[Dict[str, str]] = None) -> Dict[str, str]:
    merged = dict(RECOMMENDED_CONF)
    if isinstance(fuzzy_search_spark.__loader__, zipimport.zipimporter):
        # shipped as an archive: the daemon could not import itself
        del merged["spark.python.daemon.module"]
    if conf:
        merged.update(conf)
    return merged


def get_spark(master: Optional[str] = None, app_name: str = "fuzzy-search-spark",
              conf: Optional[Dict[str, str]] = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]")
    for k, v in _session_conf(conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
