"""Deterministic message-lifecycle generator — the engine's fixture
factory (SURVEY §7 Phase 1).

Reproduces the reference producer's semantics entirely with built-in
column expressions over ``spark.range`` (no Python UDFs, no driver-side
loops — the generator itself scales to billions of rows):

- phone pool with unique numbers (py:389-404; uniqueness via arithmetic
  decomposition of the id instead of rejection sampling)
- weighted delivery classification 0.85/0.10/0.05 (F8, py:463-472)
- ``sent`` at t0, heartbeats every 30 s while undelivered (ST2,
  py:540-568), ``delivered`` after the per-type delay (ST3, py:570-608)
- at-least-once duplicate injection (ST6, py:354-358)
- the event stream in one pass over the message table: each message's
  lifecycle (``sent``, its heartbeats, then ``delivered``) is one array
  exploded once, and a second explode over a copy count of 1 or 2 emits
  the duplicates — one ``Range`` scan per table, no union
- production-mode semantics: fresh unique message id per message
  (py:503), NOT the dry-run's reuse (py:732) — SURVEY §7 risk item 6.

All randomness derives from md5(seed, key) so every run is bit-identical
(SURVEY §5 deterministic-fixture requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import GeneratorConfig
from ..functions.expressions import det_uniform, weighted_classify
from ..schemas import CARRIERS

AREA_CODES = [212, 415, 713, 404, 602, 503]  # py:394


def generate_phones(spark: SparkSession, cfg: GeneratorConfig) -> DataFrame:
    """Phone dimension (DDL py:81-90).  phone_number is UNIQUE by
    construction: id decomposes bijectively into (area, exchange, number)
    for n_phones ≤ 6*800*9000."""
    if cfg.n_phones > 6 * 800 * 9000:
        raise ValueError("n_phones exceeds unique phone-number space")
    df = spark.range(cfg.n_phones).withColumnRenamed("id", "phone_id")
    area = F.element_at(
        F.array(*[F.lit(a) for a in AREA_CODES]), (F.col("phone_id") % 6 + 1).cast("int")
    )
    exchange = F.lit(200) + (F.col("phone_id") / 6).cast("long") % 800
    number = F.lit(1000) + (F.col("phone_id") / 4800).cast("long") % 9000
    carrier = F.element_at(
        F.array(*[F.lit(c) for c in CARRIERS]),
        (
            (det_uniform("phone_id", seed=cfg.seed + "-carrier") * 3).cast("int") + 1
        ),
    )
    return df.select(
        F.col("phone_id").alias("id"),
        (area.cast("long") * 10_000_000 + exchange * 10_000 + number).alias("phone_number"),
        carrier.alias("carrier"),
        F.timestamp_millis(F.lit(cfg.start_ms)).alias("created_at"),
    )


def generate_messages(spark: SparkSession, cfg: GeneratorConfig) -> DataFrame:
    """Ground-truth message state table (one row per message lifecycle;
    DDL py:92-105).  This is what the streaming detector must be able to
    reconstruct from the event stream — FIXTURES.md §3 invariants hold by
    construction."""
    phones_idx = generate_phones(spark, cfg).select(
        F.col("id").alias("phone_idx"), "phone_number", "carrier"
    )
    df = spark.range(cfg.n_messages).withColumnRenamed("id", "msg_seq")

    u = det_uniform("msg_seq", seed=cfg.seed + "-classify")
    delivery_type = weighted_classify(u, cfg.normal_rate, cfg.delayed_rate)
    phone_idx = (det_uniform("msg_seq", seed=cfg.seed + "-phone") * cfg.n_phones).cast("long")
    sent_ms = F.lit(cfg.start_ms) + F.col("msg_seq") * cfg.stagger_ms

    df = df.select(
        "msg_seq",
        F.md5(F.concat(F.lit(cfg.seed + "-mid-"), F.col("msg_seq").cast("string"))).alias(
            "message_id"
        ),
        phone_idx.alias("phone_idx"),
        delivery_type.alias("delivery_type"),
        sent_ms.alias("sent_time"),
    )
    if cfg.delayed_delay_model == "normal":
        # F9 (message-tracking.json:73-81): Box-Muller from two md5
        # uniforms; z rounded to 6dp so libm ULP differences between
        # engines can't flip the final millisecond rounding
        import math

        from ..functions.expressions import det_hash_hex, hex4_to_int

        u1 = (hex4_to_int(det_hash_hex("msg_seq", seed=cfg.seed + "-n1")) + 1) / F.lit(65536.0)
        u2 = hex4_to_int(det_hash_hex("msg_seq", seed=cfg.seed + "-n2")) / F.lit(65536.0)
        z = F.round(F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(2 * math.pi) * u2), 6)
        delayed_delay = F.round(F.lit(float(cfg.delayed_mean_ms)) + F.lit(float(cfg.delayed_sd_ms)) * z, 0).cast(
            "long"
        )
    else:
        delayed_delay = F.lit(cfg.delayed_delivery_ms)
    delay = (
        F.when(F.col("delivery_type") == "normal", F.lit(cfg.normal_delivery_ms))
        .when(F.col("delivery_type") == "delayed", delayed_delay)
        .otherwise(F.lit(None).cast("long"))
    )
    df = df.withColumn("delivered_time_raw", F.col("sent_time") + delay)
    horizon = F.lit(cfg.horizon_ms)
    # delivered only if it happens inside the observation horizon
    df = df.withColumn(
        "delivered_time",
        F.when(F.col("delivered_time_raw") <= horizon, F.col("delivered_time_raw")),
    )
    hb_end = F.least(F.coalesce(F.col("delivered_time_raw"), horizon), horizon)
    # heartbeats at sent + k*interval for k>=1, strictly before delivery/horizon
    n_hb = F.greatest(
        F.ceil((hb_end - F.col("sent_time")) / cfg.heartbeat_interval_ms) - 1, F.lit(0)
    ).cast("long")
    df = df.withColumn("n_heartbeats", n_hb).withColumn(
        "last_heartbeat",
        F.col("sent_time") + F.col("n_heartbeats") * cfg.heartbeat_interval_ms,
    )
    # join phone dimension (small → broadcast); phone_idx == dimension id
    df = df.join(F.broadcast(phones_idx), "phone_idx", "inner")
    return df.select(
        "message_id",
        "phone_number",
        "carrier",
        F.when(F.col("delivered_time").isNotNull(), F.lit("delivered"))
        .otherwise(F.lit("sent"))
        .alias("status"),
        "delivery_type",
        "sent_time",
        "delivered_time",
        "last_heartbeat",
        F.timestamp_millis(F.col("sent_time")).alias("created_at"),
        "msg_seq",
        "n_heartbeats",
    )


def generate_events(spark: SparkSession, cfg: GeneratorConfig) -> DataFrame:
    """The ``message_status`` stream as a batch DataFrame (FIXTURES.md §1):
    first ``sent`` + heartbeat ``sent`` re-emissions + optional
    ``delivered``, plus injected exact duplicates.  Columns match
    MESSAGE_EVENT_SCHEMA."""
    def event(status: str, ts: F.Column) -> F.Column:
        return F.struct(F.lit(status).alias("status"), ts.alias("timestamp"))

    # sent at sent_time + k * interval for k in 0..n_heartbeats (the first
    # sent, then its heartbeats); delivered, if it happened in the horizon
    sent = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("n_heartbeats")),
        lambda k: event("sent", F.col("sent_time") + k * cfg.heartbeat_interval_ms),
    )
    delivered = F.filter(
        F.array(event("delivered", F.col("delivered_time"))), lambda e: e["timestamp"].isNotNull()
    )
    events = (
        generate_messages(spark, cfg)
        .select("message_id", "phone_number", "carrier", F.explode(F.concat(sent, delivered)).alias("e"))
        .select("message_id", "e.status", "phone_number", "carrier", "e.timestamp")
    )
    # at-least-once: re-emit a deterministic ~duplicate_rate slice verbatim
    dup = det_uniform("message_id", "timestamp", seed=cfg.seed + "-dup") < cfg.duplicate_rate
    copies = F.sequence(F.lit(1), F.when(dup, 2).otherwise(1))
    return events.select("*", F.explode(copies).alias("copy")).drop("copy")
