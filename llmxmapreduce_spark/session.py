"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same configuration scales to a real
cluster — AQE handles skew/coalescing at runtime, Arrow accelerates every
pandas-UDF boundary (the batched-LLM operators), and shuffle partitions are
sized by environment rather than hardcoded for one machine.

Notable conf choices:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the generated test data's
  ``events.parquet`` stores TIMESTAMP(NANOS), which Spark 4 rejects by
  default ([PARQUET_TYPE_ILLEGAL]).  With this flag the column arrives as a
  nanosecond BIGINT and ``load_table`` converts it to a proper timestamp.
- AQE + skew-join so the same plans survive skewed keys at 100 TB.
- Arrow enabled for every pandas-UDF boundary (the batched LLM operators
  and the tree parsers are Arrow-batched, never row-at-a-time).
- ``spark.python.daemon.module`` is ``pyworker``: every Python task calls
  ``importlib.invalidate_caches()``, and on Python 3.11 that re-reads the
  central directory of the spark-core jar (5,359 entries) and
  ``pyspark.zip`` (1,328) once per zipimporter, 16 of them on a warm
  worker: about 0.2 s per task alone, more with four workers at once.
  The package daemon re-reads an archive only when it has changed on
  disk, which moves a task's start from ~0.3 s to ~0.1 s after its job
  is submitted.  Contract: the Python workers must be able to import
  this package (they already must, since every pipeline UDF pickles
  package functions by reference).
- ``spark.executorEnv.PYTHONPATH`` starts with the package's parent
  directory, ahead of any value the caller passes: a worker's own path
  starts with the JVM's working directory, so without it a session
  started outside the checkout fails every Python task at daemon start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from llmxmapreduce_spark import pyworker

_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
# the directory that holds the package, for the workers' imports
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(pyworker.__file__)))


def _default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on
    (the affinity mask, which honours taskset and container cpusets)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "llmxmapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = _default_cpus()
    master = master or f"local[{cpus}]"
    extra_conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, extra_conf.pop(_WORKER_PATH, "")) if p)
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", pyworker.__name__)
        .config(_WORKER_PATH, worker_path)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Also set on an existing session (tests may reuse one created elsewhere).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sparkContext.setLogLevel("WARN")
    return spark
