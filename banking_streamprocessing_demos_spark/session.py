"""SparkSession construction with scale-aware defaults.

Local tests run on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment story:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (the stateful streaming operator and any pandas UDF cross the
  JVM/Python boundary in columnar batches, not rows)
- shuffle partitions: ``defaultParallelism`` (one per core), set on the
  session once it exists.  Streaming queries run with AQE off, so every
  micro-batch pays for every partition of every state store; each query
  copies the session's count when it starts, and its checkpoint then
  pins that count for every restart.  Batch queries start there too and
  AQE coalesces per stage
- RocksDB state store for streaming state that exceeds heap: set
  ``spark.sql.streaming.stateStore.providerClass`` to Spark's
  ``RocksDBStateStoreProvider`` (through ``extra_conf``, or on the
  session before a query first starts)
- a package-owned Python worker daemon (``worker_daemon.py``, set with
  ``spark.python.daemon.module`` on ``local`` masters): pyspark re-reads
  ``pyspark.zip`` and the Spark jar at the start of every Python task
  (150-195 ms on 4 CPUs, paid twice per state partition by each stateful
  micro-batch); the daemon re-reads an archive only when it changed.
  The package's parent directory is put on the workers' ``PYTHONPATH``
  so the daemon starts wherever the driver could import the package
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_PARTITION_BYTES = 128 * 1024 * 1024
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def machine_cpus() -> int:
    """CPUs this process may run on: its affinity mask, not the host's count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "banking-streamprocessing-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or one slot per
    CPU of ``machine_cpus()`` when that is unset.  The session's
    ``spark.sql.shuffle.partitions`` is set to its ``defaultParallelism``
    after ``getOrCreate``, so ``extra_conf`` cannot override it: set
    another count on the returned session.
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS') or machine_cpus()}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # spill-aware scan sizing: 128 MB input splits keep per-task
        # memory bounded at any table size
        .config("spark.sql.files.maxPartitionBytes", str(MAX_PARTITION_BYTES))
        # generous driver memory in local mode; ignored under spark-submit
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # the console progress bar redraws interleave with stdout and can
        # displace the bench harness's final JSON line from log tails
        .config("spark.ui.showConsoleProgress", "false")
    )
    extra_conf = dict(extra_conf or {})
    if master.startswith("local"):
        # a cluster's executors need the package installed to run its daemon
        key = "spark.executorEnv.PYTHONPATH"
        python_path = os.pathsep.join(filter(None, [PACKAGE_PARENT, extra_conf.pop(key, None)]))
        builder = builder.config(
            "spark.python.daemon.module", "banking_streamprocessing_demos_spark.worker_daemon"
        ).config(key, python_path)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    return spark
