"""SparkSession construction with scale-aware defaults.

Local tests run on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment story:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (the stateful streaming operator and any pandas UDF cross the
  JVM/Python boundary in columnar batches, not rows)
- shuffle partitions: batch queries start at a high initial count
  (``DEFAULT_SHUFFLE_PARTITIONS``) and AQE coalesces it per stage.
  Streaming queries run with AQE off, so every micro-batch pays for
  every partition of every state store; ``start_stream`` starts them at
  ``defaultParallelism`` (one partition per core), and their checkpoint
  then pins that count for every restart
- RocksDB state store for streaming state that exceeds heap
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "banking-streamprocessing-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster the caller passes None and lets spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # spill-aware scan sizing: 128 MB input splits keep per-task
        # memory bounded at any table size; override per deployment
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        # generous driver memory in local mode; ignored under spark-submit
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # the console progress bar redraws interleave with stdout and can
        # displace the bench harness's final JSON line from log tails
        .config("spark.ui.showConsoleProgress", "false")
    )
    if rocksdb_state:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def start_stream(writer: DataStreamWriter, spark: SparkSession) -> StreamingQuery:
    """``writer.start()`` with ``spark.sql.shuffle.partitions`` set to
    ``defaultParallelism`` for this query only.

    ``start()`` clones the session conf into the query, so the count is
    set around the call and the session's own value is put back in a
    ``finally``.  A query restarted from a checkpoint keeps the count its
    first start wrote there (Spark restores it from the offset log).
    A ``foreachBatch`` sink's writes run in the query's session, so they
    use the same count.  Do not start streams concurrently from two threads on one session:
    the other thread could start with, or put back, the wrong value."""
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        return writer.start()
    finally:
        spark.conf.set(key, session_value)
