"""Parquet table loaders for the driver-generated testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

A bare ``spark.read.parquet`` infers the schema with a one-task Spark
job on every call (~100 ms on 4 cores, about what a small point query
costs to run).  ``_read_parquet`` keeps the schema Spark inferred for a
regular file in a bounded memo keyed on the session, the file's
absolute path, ``st_size`` and ``st_mtime_ns`` and the session's
``spark.sql.legacy.parquet.nanosAsLong`` (the one inference setting
``load_table`` changes itself), and reads the file as
``spark.read.schema(s).parquet``, so only the first read of a file
version starts a job.  A rewritten file or a different nanos setting
infers again; a directory always infers, because its mtime does not
change when a file inside it is rewritten.  Only the schema is kept:
Spark still lists the file on every read and builds a fresh scan, so
reads stay fresh and Catalyst keeps full pushdown freedom (column
pruning + predicate pushdown reach the scan).  Do NOT cache DataFrames
here — at 100 TB nothing fits, and caching defeats pushdown.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@functools.lru_cache(maxsize=64)
def _file_schema(
    spark: SparkSession, path: str, size: int, mtime_ns: int, nanos_as_long: str
) -> StructType:
    """The schema Spark infers for one version of a parquet file.  The
    session is part of the key so that a new session, with its own
    parquet settings, infers again; within a session only
    ``nanos_as_long`` is keyed, because ``load_table`` changes it."""
    return spark.read.parquet(path).schema


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a regular file's schema
    once per version of the file (see the module docstring)."""
    if not os.path.isfile(path):  # directory, URI or missing: Spark's own handling
        return spark.read.parquet(path)
    st = os.stat(path)
    nanos_as_long = spark.conf.get(NANOS_AS_LONG, "false")
    schema = _file_schema(spark, os.path.abspath(path), st.st_size, st.st_mtime_ns, nanos_as_long)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.ts encoding varies by testdata generation: TIMESTAMP(NANOS)
        # (which Spark 4 rejects natively — read nanos as long, floor to
        # microseconds) or plain TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ —
        # cast to session-TZ TIMESTAMP; session TZ is pinned UTC, so the
        # wall-clock is preserved and matches DuckDB's naive-as-UTC view).
        # All downstream time math uses ms epoch either way.
        spark.conf.set(NANOS_AS_LONG, "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type in ("bigint", "long"):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type.startswith("timestamp_ntz"):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")
