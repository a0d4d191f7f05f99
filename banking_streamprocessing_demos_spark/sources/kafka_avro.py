"""Kafka source/sink wiring for the message_status topic (S1/S2) —
gated: the Kafka connector jar (spark-sql-kafka) is not bundled with a
plain pyspark install, and tests run Kafka-less (SURVEY §7 Phase 3).

When the connector is present (any real cluster), these helpers wire
the same detector/monitoring jobs to the live topic with the exact
Confluent-framed Avro serde from avro_wire.py.  The sink registers the
key and value schemas under the topic's subjects (``<topic>-key``,
``<topic>-value``) with the schema registry it is given, and frames
every record with the ids the registry returns.  The broker and topic
come from ``config.engine_config_from_env`` (S6,
phone_message_producer.py:930-953).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import engine_config_from_env
from .avro_wire import from_wire, to_wire
from .schema_registry import SchemaRegistryClient, register_message_schemas


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


def read_message_stream(spark: SparkSession, starting_offsets: str = "latest") -> DataFrame:
    """readStream from Kafka → Confluent-unframe → MESSAGE_EVENT_SCHEMA.
    Feed the result to streaming.detector.detect_undelivered."""
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on classpath; use "
            "streaming.jobs.read_event_stream_from_files for the Kafka-less path"
        )
    cfg = engine_config_from_env()
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap_url)
        .option("subscribe", cfg.topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return from_wire(raw.select("key", "value"))


def write_message_stream(
    events: DataFrame, registry: SchemaRegistryClient, checkpoint: str
) -> StreamingQuery:
    """MESSAGE_EVENT_SCHEMA stream → Confluent-framed Avro → Kafka sink
    (S1 semantics: keyed by messageId; at-least-once like the reference's
    acks=all producer, py:354-358 — dedup is the consumer's job, ST6).
    Records carry the schema ids ``registry`` assigns to the topic's
    subjects, as the reference's ``AvroSerializer`` does (py:325-343)."""
    if not kafka_available(events.sparkSession):
        raise RuntimeError("spark-sql-kafka connector not on classpath")
    cfg = engine_config_from_env()
    key_id, value_id = register_message_schemas(registry, cfg.topic)
    wire = to_wire(events, key_schema_id=key_id, value_schema_id=value_id)
    return (
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap_url)
        .option("topic", cfg.topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )
