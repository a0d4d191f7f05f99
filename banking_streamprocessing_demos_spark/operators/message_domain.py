"""Message-domain queries over the deterministic generated fixture,
each with a full DuckDB oracle.

The generator (sources/generator.py) derives every value from
md5(seed, key), so the ENTIRE fixture is reproducible in portable SQL —
the oracle below regenerates the same events inside DuckDB and applies
the same semantics.  This hash-checks the reference's core state
machine (FIXTURES.md §§1-4) end-to-end:

- snapshot reconstruction (U3/U4/U5 as last-event-wins aggregation)
- the undelivered-timeout alert set (ST1 batch twin, FIXTURES.md §4)
- carrier active counts (J1/A3, py:266-272) in the message domain

Fixture config is fixed (independent of sf_dir): 2000 messages over 300
phones, defaults otherwise — large enough that all three delivery types
and horizon-truncated deliveries occur.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import GeneratorConfig
from ..session import start_stream
from ..sources.generator import generate_events
from .snapshot import carrier_active_counts, messages_snapshot, timeout_alerts_batch
from . import Registry

REG = Registry()

CFG = GeneratorConfig(n_phones=300, n_messages=2000, seed="42")
TIMEOUT_MS = (CFG.normal_delivery_ms + CFG.delayed_delivery_ms) // 2  # 105 s

# The driver runs every registered query in one session; regenerating
# (and re-shuffling) the fixture per query would dominate the gate's
# wall-clock.  Memoize the generated event DataFrame per (session, cfg).
_EVENTS_CACHE: dict[tuple[int, GeneratorConfig], "DataFrame"] = {}


def _events(spark: SparkSession, cfg: GeneratorConfig) -> "DataFrame":
    # frozen dataclass → hashable: the WHOLE config is the key (a seed+size
    # key would silently alias configs differing in other fields)
    key = (id(spark), cfg)
    df = _EVENTS_CACHE.get(key)
    if df is None:
        df = generate_events(spark, cfg).cache()
        _EVENTS_CACHE[key] = df
    return df

# ---------------------------------------------------------------------------
# DuckDB re-implementation of the generator (same md5 derivations)
# ---------------------------------------------------------------------------

from ..functions.expressions import HEX_DIGITS as _HEX  # noqa: E402


def _u(prefix: str, key_expr: str) -> str:
    """det_uniform as SQL: first 4 md5 hex digits / 65536."""
    h = f"md5('{prefix}-' || {key_expr})"
    digits = " + ".join(
        f"{w} * (strpos('{_HEX}', substr({h}, {i + 1}, 1)) - 1)"
        for i, w in enumerate((4096, 256, 16, 1))
    )
    return f"(({digits}) / 65536.0)"


def _gen_prelude(cfg: GeneratorConfig) -> str:
    horizon = cfg.horizon_ms
    if cfg.delayed_delay_model == "normal":
        # F9: Box-Muller mirror of generator.py — z rounded to 6dp so
        # libm ULP differences can't flip the millisecond rounding
        u1 = f"(({_u(cfg.seed + '-n1', 'msg_seq')}) + 1.0/65536.0)"
        u2 = f"({_u(cfg.seed + '-n2', 'msg_seq')})"
        delayed_expr = (
            f"sent_time + CAST(ROUND({cfg.delayed_mean_ms} + {cfg.delayed_sd_ms} * "
            f"ROUND(SQRT(-2 * LN({u1})) * COS(2 * PI() * {u2}), 6), 0) AS BIGINT)"
        )
    else:
        delayed_expr = f"sent_time + {cfg.delayed_delivery_ms}"
    return f"""
    WITH phones AS (
        SELECT phone_id,
               (list_extract([212,415,713,404,602,503], CAST(phone_id % 6 AS INT) + 1)::BIGINT) * 10000000
                 + (200 + (phone_id // 6) % 800) * 10000
                 + (1000 + (phone_id // 4800) % 9000) AS phone_number,
               list_extract(['verizon','att','t-mobile'],
                            CAST(FLOOR({_u(cfg.seed + "-carrier", "phone_id")} * 3) AS INT) + 1) AS carrier
        FROM (SELECT UNNEST(range({cfg.n_phones})) AS phone_id)
    ),
    base AS (
        SELECT msg_seq,
               md5('{cfg.seed}-mid-' || msg_seq) AS message_id,
               CAST(FLOOR({_u(cfg.seed + "-phone", "msg_seq")} * {cfg.n_phones}) AS BIGINT) AS phone_idx,
               CASE WHEN {_u(cfg.seed + "-classify", "msg_seq")} < {cfg.normal_rate} THEN 'normal'
                    WHEN {_u(cfg.seed + "-classify", "msg_seq")} < {cfg.normal_rate + cfg.delayed_rate} THEN 'delayed'
                    ELSE 'never' END AS delivery_type,
               {cfg.start_ms} + msg_seq * {cfg.stagger_ms} AS sent_time
        FROM (SELECT UNNEST(range({cfg.n_messages})) AS msg_seq)
    ),
    msgs AS (
        SELECT b.*, p.phone_number, p.carrier,
               CASE WHEN delivery_type = 'normal' THEN sent_time + {cfg.normal_delivery_ms}
                    WHEN delivery_type = 'delayed' THEN {delayed_expr}
               END AS delivered_time_raw
        FROM base b JOIN phones p ON b.phone_idx = p.phone_id
    ),
    msgs2 AS (
        SELECT *,
               CASE WHEN delivered_time_raw <= {horizon} THEN delivered_time_raw END AS delivered_time,
               GREATEST(CAST(CEIL((LEAST(COALESCE(delivered_time_raw, {horizon}), {horizon}) - sent_time)
                                  / {cfg.heartbeat_interval_ms}.0) AS BIGINT) - 1, 0) AS n_heartbeats
        FROM msgs
    ),
    raw_events AS (
        SELECT message_id, 'sent' AS status, phone_number, carrier, sent_time AS timestamp FROM msgs2
        UNION ALL
        SELECT message_id, 'sent', phone_number, carrier,
               sent_time + k * {cfg.heartbeat_interval_ms}
        FROM (SELECT *, UNNEST(range(1, n_heartbeats + 1)) AS k
              FROM msgs2 WHERE n_heartbeats > 0)
        UNION ALL
        SELECT message_id, 'delivered', phone_number, carrier, delivered_time
        FROM msgs2 WHERE delivered_time IS NOT NULL
    ),
    gen_events AS (
        SELECT * FROM raw_events
        UNION ALL
        SELECT * FROM raw_events
        WHERE {_u(cfg.seed + "-dup", "message_id || CAST(timestamp AS VARCHAR)")} < {cfg.duplicate_rate}
    )
    """


_PRELUDE = _gen_prelude(CFG)


@REG.add(
    "gen_messages_snapshot",
    _PRELUDE
    + """
    SELECT message_id,
           MIN(phone_number) AS phone_number,
           MIN(carrier) AS carrier,
           CASE WHEN MIN(CASE WHEN status='delivered' THEN timestamp END) IS NOT NULL
                THEN 'delivered' ELSE 'sent' END AS status,
           MIN(CASE WHEN status='sent' THEN timestamp END) AS sent_time,
           MIN(CASE WHEN status='delivered' THEN timestamp END) AS delivered_time,
           MAX(CASE WHEN status='sent' THEN timestamp END) AS last_heartbeat,
           COUNT(CASE WHEN status='sent' THEN 1 END) AS n_sent_events
    FROM gen_events GROUP BY message_id
    """,
    doc="U3/U4/U5 (py:211-229,610-614) hash-checked: last-event-wins snapshot derived "
    "from the event stream, idempotent under at-least-once duplicates.",
)
def gen_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return messages_snapshot(_events(spark, CFG))


@REG.add(
    "gen_timeout_alerts",
    _PRELUDE
    + f"""
    , snap AS (
        SELECT message_id,
               MIN(phone_number) AS phone_number,
               MIN(carrier) AS carrier,
               MIN(CASE WHEN status='sent' THEN timestamp END) AS sent_time,
               MIN(CASE WHEN status='delivered' THEN timestamp END) AS delivered_time
        FROM gen_events GROUP BY message_id
    )
    SELECT message_id, phone_number, carrier,
           sent_time AS first_sent_time,
           sent_time + {TIMEOUT_MS} AS alert_time,
           delivered_time IS NOT NULL AS resolved_late
    FROM snap
    WHERE delivered_time IS NULL OR delivered_time - sent_time > {TIMEOUT_MS}
    """,
    doc="ST1 batch twin (README.md:31-35; FIXTURES.md §4) hash-checked: the "
    "undelivered-message alert set at timeout=105s.",
)
def gen_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeout_alerts_batch(_events(spark, CFG), TIMEOUT_MS)


@REG.add(
    "gen_carrier_active_counts",
    _PRELUDE
    + """
    , snap AS (
        SELECT message_id, MIN(carrier) AS carrier,
               MIN(CASE WHEN status='delivered' THEN timestamp END) AS delivered_time
        FROM gen_events GROUP BY message_id
    )
    SELECT carrier, COUNT(*) AS active_count
    FROM snap WHERE delivered_time IS NULL GROUP BY carrier
    """,
    doc="J1/A3 (py:266-272) in the message domain, hash-checked: active messages "
    "per carrier from the reconstructed snapshot.",
)
def gen_carrier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return carrier_active_counts(_events(spark, CFG))


@REG.add(
    "st1_streaming_detector",
    _PRELUDE
    + f"""
    , snap AS (
        SELECT message_id,
               MIN(phone_number) AS phone_number,
               MIN(carrier) AS carrier,
               MIN(CASE WHEN status='sent' THEN timestamp END) AS sent_time,
               MIN(CASE WHEN status='delivered' THEN timestamp END) AS delivered_time
        FROM gen_events GROUP BY message_id
    )
    SELECT message_id, 'alert' AS kind, phone_number, carrier,
           sent_time AS first_sent_ms,
           sent_time + {TIMEOUT_MS} AS event_ms,
           CAST(NULL AS BIGINT) AS latency_ms
    FROM snap WHERE delivered_time IS NULL OR delivered_time - sent_time > {TIMEOUT_MS}
    UNION ALL
    SELECT message_id,
           CASE WHEN delivered_time - sent_time > {TIMEOUT_MS}
                THEN 'late_delivered' ELSE 'delivered' END AS kind,
           phone_number, carrier,
           sent_time AS first_sent_ms,
           delivered_time AS event_ms,
           delivered_time - sent_time AS latency_ms
    FROM snap WHERE delivered_time IS NOT NULL
    """,
    doc="ST1 — the ACTUAL Structured Streaming stateful detector "
    "(applyInPandasWithState, event-time timers), run to completion over a file "
    "replay of the generated fixture and hash-checked against the event-time "
    "ground truth: its output is deterministic under any batching because "
    "deliveries are classified against the deadline in event time (ST5).",
)
def st1_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from ..streaming.detector import detect_undelivered
    from ..streaming.jobs import read_event_stream_from_files

    events_dir = tempfile.mkdtemp(prefix="st1-events-")
    ckpt = tempfile.mkdtemp(prefix="st1-ckpt-")
    _events(spark, CFG).coalesce(4).write.mode("overwrite").parquet(events_dir)

    stream = read_event_stream_from_files(spark, events_dir)
    detected = detect_undelivered(stream, TIMEOUT_MS, watermark_delay="30 seconds")
    name = f"st1_out_{uuid.uuid4().hex[:8]}"
    q = start_stream(
        detected.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
        spark,
    )
    q.awaitTermination(240)
    if q.isActive:
        q.stop()
        # a partial memory table would masquerade as a detector-semantics
        # bug in the correctness gate — fail loudly instead
        raise TimeoutError("st1 streaming detector did not finish within 240s")
    return spark.table(name)


CFG_NORMAL = GeneratorConfig(
    n_phones=200,
    n_messages=1200,
    seed="f9",
    delayed_delay_model="normal",
    delayed_mean_ms=120_000,
    delayed_sd_ms=10_000,
)
_PRELUDE_NORMAL = _gen_prelude(CFG_NORMAL)


@REG.add(
    "gen_normal_delay_snapshot",
    _PRELUDE_NORMAL
    + """
    SELECT message_id,
           MIN(CASE WHEN status='sent' THEN timestamp END) AS sent_time,
           MIN(CASE WHEN status='delivered' THEN timestamp END) AS delivered_time,
           MIN(CASE WHEN status='delivered' THEN timestamp END)
             - MIN(CASE WHEN status='sent' THEN timestamp END) AS latency_ms
    FROM gen_events GROUP BY message_id
    """,
    doc="F9 (message-tracking.json:73-81): delayed deliveries drawn from "
    "N(120 s, 10 s) via deterministic Box-Muller over md5 uniforms — the "
    "distributional delay model, hash-checked per message against the oracle's "
    "identical derivation.",
)
def gen_normal_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    snap = messages_snapshot(_events(spark, CFG_NORMAL))
    return snap.select(
        "message_id",
        "sent_time",
        "delivered_time",
        (F.col("delivered_time") - F.col("sent_time")).alias("latency_ms"),
    )


@REG.add(
    "gen_alert_rates_by_carrier",
    _PRELUDE
    + f"""
    , snap AS (
        SELECT message_id, MIN(carrier) AS carrier,
               MIN(CASE WHEN status='sent' THEN timestamp END) AS sent_time,
               MIN(CASE WHEN status='delivered' THEN timestamp END) AS delivered_time
        FROM gen_events GROUP BY message_id
    )
    SELECT carrier,
           (sent_time + {TIMEOUT_MS}) // 60000 * 60000 AS window_ms,
           COUNT(*) AS n_alerts
    FROM snap
    WHERE delivered_time IS NULL OR delivered_time - sent_time > {TIMEOUT_MS}
    GROUP BY 1, 2
    """,
    doc="§7.5 extension: per-carrier tumbling-window alert rates over the detector "
    "output (batch twin of the streaming windowed aggregation on the alert stream).",
)
def gen_alert_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    alerts = timeout_alerts_batch(_events(spark, CFG), TIMEOUT_MS)
    return alerts.groupBy(
        "carrier",
        (F.floor(F.col("alert_time") / 60000) * 60000).alias("window_ms"),
    ).agg(F.count("*").alias("n_alerts"))


@REG.add(
    "smp2_backpressure_topup",
    _PRELUDE
    + """
    , snap AS (
        SELECT message_id,
               MIN(CASE WHEN status='delivered' THEN timestamp END) AS delivered_time
        FROM gen_events GROUP BY message_id
    )
    SELECT COUNT(*) AS active_count,
           GREATEST(LEAST(50, 400 - COUNT(*)), 0) AS topup
    FROM snap WHERE delivered_time IS NULL
    """,
    doc="SMP2/ST7 (py:477-481): bounded-active-set backpressure — the batch top-up "
    "is min(batch_size, max_active - active); streaming analog is "
    "maxFilesPerTrigger/maxOffsetsPerTrigger.",
)
def smp2_topup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    snap = messages_snapshot(_events(spark, CFG))
    active = snap.filter(F.col("status") != "delivered").agg(F.count("*").alias("active_count"))
    return active.select(
        "active_count",
        F.greatest(F.least(F.lit(50), F.lit(400) - F.col("active_count")), F.lit(0)).alias("topup"),
    )


@REG.add(
    "s5_console_dry_run",
    _PRELUDE
    + """
    SELECT '[' || lpad(CAST((timestamp // 1000 % 86400) // 3600 AS VARCHAR), 2, '0') || ':'
           || lpad(CAST((timestamp // 1000 % 3600) // 60 AS VARCHAR), 2, '0') || ':'
           || lpad(CAST(timestamp // 1000 % 60 AS VARCHAR), 2, '0') || '] '
           || upper(status) || ': ' || CAST(phone_number AS VARCHAR)
           || ' (' || carrier || ')' AS line
    FROM gen_events
    """,
    doc="S5 (py:740-756): the dry-run console projection "
    "`[HH:MM:SS] STATUS: phone (carrier)` — format-string parity hash-checked "
    "over the generated stream.",
)
def s5_console(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import console_dry_run

    return console_dry_run(_events(spark, CFG))


@REG.add(
    "st1_join_variant",
    _PRELUDE
    + f"""
    , snap AS (
        SELECT message_id,
               MIN(phone_number) AS phone_number,
               MIN(carrier) AS carrier,
               MIN(CASE WHEN status='sent' THEN timestamp END) AS first_sent_ms,
               MIN(CASE WHEN status='delivered' THEN timestamp END) AS raw_delivered
        FROM gen_events GROUP BY message_id
    )
    SELECT message_id, phone_number, carrier, first_sent_ms,
           CASE WHEN raw_delivered - first_sent_ms <= {TIMEOUT_MS}
                THEN raw_delivered END AS delivered_ms,
           (raw_delivered IS NULL OR raw_delivered - first_sent_ms > {TIMEOUT_MS})
               AS alerted
    FROM snap
    """,
    doc="ST1 fallback plan (SURVEY J5) hash-checked: the stream-stream-join "
    "detector's batch twin — deliveries joined under the time-range condition, "
    "out-of-window (late) deliveries surface as alerts with NULL delivered_ms.",
)
def st1_join_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.detector_join import detect_undelivered_join

    return detect_undelivered_join(_events(spark, CFG), TIMEOUT_MS)


@REG.add(
    "gen_status_histogram",
    _PRELUDE
    + """
    SELECT status, COUNT(*) AS cnt FROM gen_events GROUP BY status
    """,
    doc="A2 (py:262-263) on the wire stream: event count by status, duplicates included "
    "(at-least-once visible in raw counts).",
)
def gen_status_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return _events(spark, CFG).groupBy("status").agg(F.count("*").alias("cnt"))
