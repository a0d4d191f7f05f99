"""Durable table storage (S3/D1-D3, U1): the reference's SQLite row
store re-expressed as schema-declared parquet tables.

Semantic mapping (SURVEY §2.2, §2.7):
- CREATE TABLE (D1/D2, py:81-105)  → explicit-schema parquet directory
- PRIMARY KEY / UNIQUE (py:83-84)  → no engine enforcement in Spark;
  enforced at the write path: in-batch dropDuplicates + anti-join
  against the existing table (U1 INSERT OR IGNORE, py:133-152)
- AUTOINCREMENT (py:83)            → monotonically_increasing_id():
  unique, not dense (SURVEY §1.2 documents the deviation)
- indexes (D3, py:108-109)         → none; parquet row-group stats +
  partition pruning serve the access paths at scale
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schemas import MESSAGES_SCHEMA, PHONE_NUMBERS_SCHEMA

TABLE_SCHEMAS = {
    "phone_numbers": PHONE_NUMBERS_SCHEMA,
    "messages": MESSAGES_SCHEMA,
}


def create_table(spark: SparkSession, base_dir: str, name: str) -> str:
    """DDL: materialize an empty schema-declared table (D1/D2)."""
    schema = TABLE_SCHEMAS[name]
    path = os.path.join(base_dir, name)
    spark.createDataFrame([], schema).write.mode("ignore").parquet(path)
    return path


def read_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(os.path.join(base_dir, name))


def insert_or_ignore(
    spark: SparkSession, base_dir: str, name: str, rows: DataFrame, key: str
) -> int:
    """U1 (py:133-152): append only rows whose ``key`` is absent — both
    within the incoming batch (one arbitrary row per key) and against
    the stored table.  Returns the inserted count = rows this write
    committed, observed on the write's own single evaluation (so exact
    even for non-deterministic ids).  AQE sizes the ``rebalance``d
    output: a small insert writes one file, an empty one none.

    One writer at a time is assumed: two concurrent writers each
    anti-join against the table as they listed it, so both can insert a
    key.  A failed write leaves the table as it was (Spark's commit
    protocol).  At 100 TB the stored side would be bucketed on the key
    for a shuffle-free probe, or a Delta/Iceberg MERGE would replace this.
    """
    path = os.path.join(base_dir, name)
    obs = Observation()
    fresh = (
        rows.dropDuplicates([key])
        .join(read_table(spark, base_dir, name).select(key), key, "left_anti")
        .select(*TABLE_SCHEMAS[name].fieldNames())
        .hint("rebalance")
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    before = set(os.listdir(path))
    fresh.write.mode("append").parquet(path)
    n = obs.get["n"]
    if not n:
        for f in set(os.listdir(path)) - before:  # Spark's zero-row file + its .crc
            os.remove(os.path.join(path, f))
    return n


def with_autoincrement_ids(df: DataFrame, id_col: str = "id") -> DataFrame:
    """AUTOINCREMENT analog: unique-not-dense ids (SURVEY §1.2)."""
    return df.withColumn(id_col, F.monotonically_increasing_id())


def read_events_json_robust(
    spark: SparkSession, path: str, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """Malformed-input-tolerant JSON-lines ingestion of the message
    event schema (the shape a real topic dump / firehose lands in):
    PERMISSIVE mode routes unparseable lines into ``corrupt_col``
    instead of failing the job, and rows missing fields surface nulls.

    Returns the full frame including the corrupt column — callers split
    it into clean rows (`corrupt_col IS NULL`) and a quarantine side
    for reprocessing, which is the at-scale pattern: one pass, no
    job-killing poison pills, auditable reject counts.  Works identically
    as `spark.readStream.schema(...).json` for the streaming path (the
    schema carries the corrupt column)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ..schemas import MESSAGE_EVENT_SCHEMA

    schema = StructType(
        list(MESSAGE_EVENT_SCHEMA.fields) + [StructField(corrupt_col, StringType(), True)]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def split_quarantine(df: DataFrame, corrupt_col: str = "_corrupt_record"):
    """(clean, quarantine) split of a robust-read frame.  The quarantine
    side keeps the data columns alongside the raw line: Spark refuses a
    query whose referenced columns are ONLY the internal corrupt column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) unless the parse is cached, and
    at ingest scale caching the whole frame is exactly what you don't
    want — carrying the (null-filled) data columns sidesteps the
    restriction in one pass AND preserves whatever partially parsed."""
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull())
    return clean, quarantine
