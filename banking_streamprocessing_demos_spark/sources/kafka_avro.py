"""Kafka source/sink wiring for the message_status topic (S1/S2) —
gated: the Kafka connector jar (spark-sql-kafka) is not bundled with a
plain pyspark install, and tests run Kafka-less (SURVEY §7 Phase 3).

When the connector is present (any real cluster), these helpers wire
the same detector/monitoring jobs to the live topic with the exact
Confluent-framed Avro serde from avro_wire.py; schema ids come from
schema_registry.SchemaRegistryClient (register_message_schemas).
Config comes from the environment like the reference (S6,
phone_message_producer.py:930-953).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import start_stream
from .avro_wire import from_wire, to_wire

TOPIC = "message_status"  # phone_message_producer.py:36,942


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector is on the classpath."""
    try:
        spark.read.format("kafka")
        # touching the format lazily doesn't load it; probe the class
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def _bootstrap() -> str:
    # env-sourced config, reference style (py:933-943: BOOTSTRAP_URL)
    return os.environ.get("BOOTSTRAP_URL", "localhost:9092")


def read_message_stream(spark: SparkSession, starting_offsets: str = "latest") -> DataFrame:
    """readStream from Kafka → Confluent-unframe → MESSAGE_EVENT_SCHEMA.
    Feed the result to streaming.detector.detect_undelivered."""
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on classpath; use "
            "streaming.jobs.read_event_stream_from_files for the Kafka-less path"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", _bootstrap())
        .option("subscribe", TOPIC)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return from_wire(raw.select("key", "value"))


def write_message_stream(events: DataFrame, checkpoint: str) -> "DataFrame":
    """MESSAGE_EVENT_SCHEMA stream → Confluent-framed Avro → Kafka sink
    (S1 semantics: keyed by messageId; at-least-once like the reference's
    acks=all producer, py:354-358 — dedup is the consumer's job, ST6)."""
    spark = events.sparkSession
    if not kafka_available(spark):
        raise RuntimeError("spark-sql-kafka connector not on classpath")
    wire = to_wire(events)
    return start_stream(
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", _bootstrap())
        .option("topic", TOPIC)
        .option("checkpointLocation", checkpoint),
        spark,
    )
