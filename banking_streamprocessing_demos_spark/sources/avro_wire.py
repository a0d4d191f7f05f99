"""Avro wire-format codec for the message_status topic (S1/S2).

The reference serializes MessageKey/MessageStatus with Confluent's
AvroSerializer against Schema Registry (phone_message_producer.py:
302-343, 425-432), producing the Confluent framing:

    [0x00 magic][4-byte big-endian schema id][avro binary body]

Neither the spark-avro datasource nor fastavro is available in this
environment, so the codec is implemented here directly from the Avro
1.x binary spec — trivial for these flat records (strings are
varint-length-prefixed UTF-8, longs are zigzag varints; record =
concatenated fields in schema order, phone_message_producer.py:302-323).
It runs as Arrow-batched pandas UDFs: the codec sits at the Kafka
boundary, not in the analytical hot path, so a Python serde is the
right tradeoff (SURVEY §7.5, risk item 4).

With a cluster that has spark-avro loaded, ``from_avro``/``to_avro``
with MESSAGE_STATUS_AVRO_JSON drop in for the body and only the 5-byte
framing UDF remains.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StructField, StructType

from ..schemas import MESSAGE_EVENT_SCHEMA

MAGIC_BYTE = b"\x00"

# ---------------------------------------------------------------------------
# Avro binary primitives (Avro spec §binary_encoding)
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(n: int) -> bytes:
    """Avro long: zigzag + little-endian base-128 varint."""
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc), pos
        shift += 7


def write_string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return write_long(len(raw)) + raw


def read_string(buf: bytes, pos: int) -> tuple[str, int]:
    n, pos = read_long(buf, pos)
    return buf[pos : pos + n].decode("utf-8"), pos + n


# ---------------------------------------------------------------------------
# record codecs (field order = schema order, py:302-323)
# ---------------------------------------------------------------------------


def encode_message_key(message_id: str) -> bytes:
    return write_string(message_id)


def decode_message_key(buf: bytes) -> str:
    s, _ = read_string(buf, 0)
    return s


def encode_message_status(status: str, phone_number: int, carrier: str, timestamp: int) -> bytes:
    return (
        write_string(status)
        + write_long(phone_number)
        + write_string(carrier)
        + write_long(timestamp)
    )


def decode_message_status(buf: bytes) -> tuple[str, int, str, int]:
    status, pos = read_string(buf, 0)
    phone, pos = read_long(buf, pos)
    carrier, pos = read_string(buf, pos)
    ts, pos = read_long(buf, pos)
    return status, phone, carrier, ts


def confluent_frame(body: bytes, schema_id: int) -> bytes:
    """Confluent Schema Registry wire format (magic byte + schema id)."""
    return MAGIC_BYTE + schema_id.to_bytes(4, "big") + body


def confluent_unframe(buf: bytes) -> tuple[int, bytes]:
    if buf[0:1] != MAGIC_BYTE:
        raise ValueError("not Confluent-framed: missing magic byte 0x00")
    return int.from_bytes(buf[1:5], "big"), buf[5:]


# ---------------------------------------------------------------------------
# DataFrame-level serde (mapInPandas — Arrow batches, executor-side)
# ---------------------------------------------------------------------------

WIRE_SCHEMA = StructType(
    [
        StructField("key", BinaryType(), False),
        StructField("value", BinaryType(), False),
    ]
)


def to_wire(events: DataFrame, key_schema_id: int = 1, value_schema_id: int = 2) -> DataFrame:
    """MESSAGE_EVENT_SCHEMA rows → Confluent-framed (key, value) binary
    columns, ready for a Kafka sink (S1, py:436-444)."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "key": [
                        confluent_frame(encode_message_key(m), key_schema_id)
                        for m in pdf["message_id"]
                    ],
                    "value": [
                        confluent_frame(encode_message_status(s, int(p), c, int(t)), value_schema_id)
                        for s, p, c, t in zip(
                            pdf["status"], pdf["phone_number"], pdf["carrier"], pdf["timestamp"]
                        )
                    ],
                }
            )

    return events.mapInPandas(enc, WIRE_SCHEMA)


def from_wire(wire: DataFrame) -> DataFrame:
    """(key, value) Confluent-framed binary → MESSAGE_EVENT_SCHEMA rows —
    the consumer-side entry (what a Kafka source feeds the detector)."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = [decode_message_key(confluent_unframe(bytes(k))[1]) for k in pdf["key"]]
            vals = [decode_message_status(confluent_unframe(bytes(v))[1]) for v in pdf["value"]]
            yield pd.DataFrame(
                {
                    "message_id": keys,
                    "status": [v[0] for v in vals],
                    "phone_number": [v[1] for v in vals],
                    "carrier": [v[2] for v in vals],
                    "timestamp": [v[3] for v in vals],
                }
            )

    return wire.mapInPandas(dec, MESSAGE_EVENT_SCHEMA)
