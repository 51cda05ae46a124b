"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and merely *sized* by environment variables:

- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  partition counts when the real data distribution shows up.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster it
  is a floor — AQE coalesces down, skew-split raises it.
- Arrow on: every Pandas-UDF boundary (multimodal decode, custom ops) is
  Arrow-batched, never row-at-a-time pickling.
- UTC session timezone so results compare bit-stable against the DuckDB
  oracle and across clusters.
- Python workers fork from ``outboxx_spark.pyworker_daemon``, not
  ``pyspark.daemon``. PySpark's worker calls ``importlib.invalidate_caches()``
  at the start of every task, and on CPython 3.11.7 and 3.12.1 that re-reads
  the whole index of every zip on the worker's path (``pyspark.zip``, once
  per imported sub-package, and the Spark jar): 55-147 ms per task in a
  reused worker on 4 vCPUs. The daemon's wrapper re-reads an archive only
  when its stat stamp changed (or changed too recently to trust), so an
  ``addPyFile`` zip rewritten under the same name is still re-read. 3.13.0
  drops the cache entry instead of re-reading; the wrapper's re-read rule
  was checked on all three versions. The JVM starts the daemon before any
  task runs, so the package's parent directory is appended to
  ``spark.executorEnv.PYTHONPATH``.
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled``):
  PySpark otherwise records the Python call site of every DataFrame and
  Column call over py4j. Measured on 4 vCPUs, 5 ``start_stream`` calls
  each way, alternated in one JVM: 1,731 -> 604 py4j commands per query
  start, 0.50 -> 0.35 s (medians).
  Error messages keep their text and lose the Python call-site block.
  PySpark reads the flag once per process.
- Streaming checkpoint logs go through Hadoop's ``FileSystem``
  (``CHECKPOINT_FILE_MANAGER``), not Spark's default ``FileContext``-based
  manager. Without Hadoop's native library the local ``FileContext`` runs
  ``readlink``, ``chmod`` and ``ls`` as child processes of the JVM, so every
  ``HDFSMetadataLog.add`` cost 20 forks and 38 ms (``CommitLog.add``, median
  of 40, 4 vCPUs); each trigger writes three such files (``sources/0/N``,
  ``offsets/N``, ``commits/N``). Through ``FileSystem`` a log write costs 4
  forks and 10 ms. The manager needs an atomic ``rename`` that does not
  overwrite: local rename(2) and HDFS give that, and ``renameTempFile``
  checks ``exists(dst)`` first. Spark itself falls back to it for file
  systems without ``FileContext``. A caller's ``extra_conf`` wins, so a
  deployment that configures a cloud-specific manager keeps it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import outboxx_spark

# Spark's own manager over Hadoop's FileSystem (see the module docstring)
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(outboxx_spark.__file__)))


def get_spark(app_name: str = "outboxx_spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # The testbed's events.parquet carries TIMESTAMP(NANOS); Spark has
        # no nanos timestamp type, so read as long and convert centrally
        # (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "outboxx_spark.pyworker_daemon")
        # no Python call-site capture per DataFrame/Column API call
        # (each costs py4j round trips; see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # checkpoint logs without child processes (see the module docstring)
        .config(CHECKPOINT_FILE_MANAGER_CONF, CHECKPOINT_FILE_MANAGER)
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    # Appended, not replaced, so a caller's entries stay first.
    path = os.pathsep.join(filter(None, [extra_conf.get("spark.executorEnv.PYTHONPATH"), _PACKAGE_PARENT]))
    builder = builder.config("spark.executorEnv.PYTHONPATH", path)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
