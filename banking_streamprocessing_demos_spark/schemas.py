"""Declared schemas for the engine's data plane.

The reference declares every schema statically: Avro literals registered
in Schema Registry (phone_message_producer.py:302-341), SQLite DDL
(phone_message_producer.py:81-105), and a static generator value shape
(message-tracking.json:42-55).  We mirror that stance: explicit
StructTypes, no inference, Avro schema JSON kept verbatim for
``from_avro``/``to_avro`` wire compatibility.
"""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Wire schemas (Avro, verbatim) — phone_message_producer.py:302-323
# ---------------------------------------------------------------------------

MESSAGE_KEY_AVRO_JSON = """{
    "type": "record",
    "name": "MessageKey",
    "fields": [
        {"name": "messageId", "type": "string"}
    ]
}"""

MESSAGE_STATUS_AVRO_JSON = """{
    "type": "record",
    "name": "MessageStatus",
    "fields": [
        {"name": "status", "type": "string"},
        {"name": "phoneNumber", "type": "long"},
        {"name": "carrier", "type": "string"},
        {"name": "timestamp", "type": "long"}
    ]
}"""

# Flattened key+value event record as the engine's canonical stream table
# (FIXTURES.md §1).  `timestamp` is ms-epoch BIGINT exactly as on the wire
# (phone_message_producer.py:406-408).
MESSAGE_EVENT_SCHEMA = StructType(
    [
        StructField("message_id", StringType(), False),
        StructField("status", StringType(), False),  # 'sent' | 'delivered'
        StructField("phone_number", LongType(), False),
        StructField("carrier", StringType(), False),
        StructField("timestamp", LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Entity / state tables — phone_message_producer.py:81-105
# ---------------------------------------------------------------------------

# phone_numbers (DDL py:81-90).  AUTOINCREMENT has no Spark equivalent;
# ids are unique-not-dense via monotonically_increasing_id (SURVEY §1.2).
PHONE_NUMBERS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("phone_number", LongType(), False),  # UNIQUE NOT NULL
        StructField("carrier", StringType(), False),
        StructField("created_at", TimestampType(), False),
        StructField("total_messages_sent", IntegerType(), False),
        StructField("total_messages_delivered", IntegerType(), False),
    ]
)

# messages (DDL py:92-105).  delivered_time nullability is load-bearing:
# "undelivered" <=> delivered_time IS NULL (py:100, SURVEY §1.2 P7).
MESSAGES_SCHEMA = StructType(
    [
        StructField("message_id", StringType(), False),
        StructField("phone_number", LongType(), False),
        StructField("carrier", StringType(), False),
        StructField("status", StringType(), False),
        StructField("delivery_type", StringType(), False),  # normal|delayed|never
        StructField("sent_time", LongType(), False),
        StructField("delivered_time", LongType(), True),
        StructField("last_heartbeat", LongType(), False),
        StructField("created_at", TimestampType(), False),
    ]
)

CARRIERS = ["verizon", "att", "t-mobile"]  # py:62; message-tracking.json:28-34
