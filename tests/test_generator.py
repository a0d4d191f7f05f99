"""Generator invariants (FIXTURES.md §3) + snapshot reconstruction
(SURVEY §2.7) — the engine must derive `messages` state purely from the
event stream, idempotently under duplicates."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from banking_streamprocessing_demos_spark.config import GeneratorConfig
from banking_streamprocessing_demos_spark.operators.snapshot import (
    carrier_active_counts,
    messages_snapshot,
    timeout_alerts_batch,
)
from banking_streamprocessing_demos_spark.sources.generator import (
    generate_events,
    generate_messages,
    generate_phones,
)

CFG = GeneratorConfig(n_phones=200, n_messages=500, seed="t1")


@pytest.fixture(scope="module")
def msgs(spark):
    df = generate_messages(spark, CFG)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def events(spark):
    df = generate_events(spark, CFG)
    df.cache().count()
    return df


def test_phones_unique(spark):
    phones = generate_phones(spark, CFG)
    assert phones.count() == CFG.n_phones
    assert phones.select("phone_number").distinct().count() == CFG.n_phones


def test_classification_rates(msgs):
    counts = dict(msgs.groupBy("delivery_type").count().collect())
    total = sum(counts.values())
    assert total == CFG.n_messages
    # md5-uniform draw: rates within ±6% absolute of configured values
    assert abs(counts.get("normal", 0) / total - CFG.normal_rate) < 0.06
    assert abs(counts.get("delayed", 0) / total - CFG.delayed_rate) < 0.06
    assert abs(counts.get("never", 0) / total - CFG.never_rate) < 0.06


def test_delivery_invariants(msgs):
    # delivered_time IS NULL <=> status='sent'; never => no delivery;
    # latency equals the per-type constant (py:949-950 semantics)
    bad = msgs.filter(
        (F.col("delivered_time").isNull()) != (F.col("status") == "sent")
    ).count()
    assert bad == 0
    assert msgs.filter((F.col("delivery_type") == "never") & F.col("delivered_time").isNotNull()).count() == 0
    wrong_latency = msgs.filter(
        F.col("delivered_time").isNotNull()
        & (
            (F.col("delivery_type") == "normal")
            & (F.col("delivered_time") - F.col("sent_time") != CFG.normal_delivery_ms)
            | (F.col("delivery_type") == "delayed")
            & (F.col("delivered_time") - F.col("sent_time") != CFG.delayed_delivery_ms)
        )
    ).count()
    assert wrong_latency == 0


def test_heartbeats_before_delivery(msgs):
    # last heartbeat strictly before delivery, and >= sent_time
    bad = msgs.filter(
        F.col("delivered_time").isNotNull() & (F.col("last_heartbeat") >= F.col("delivered_time"))
    ).count()
    assert bad == 0
    assert msgs.filter(F.col("last_heartbeat") < F.col("sent_time")).count() == 0


def test_events_deterministic(spark, events):
    again = generate_events(spark, CFG)
    assert events.exceptAll(again).count() == 0
    assert again.exceptAll(events).count() == 0


def test_events_scan_the_message_table_once(spark):
    """generate_events is one pass over the message table: its executed
    plan holds one Range over the messages and one over the phones.  A
    union of the lifecycle branches plus a duplicate re-scan would plan
    the message table (messages and phones) once per branch.  Its own
    config, so the module's cached ``events`` cannot stand in for the
    plan."""
    cfg = GeneratorConfig(n_phones=20, n_messages=50, seed="t1-plan")
    plan = generate_events(spark, cfg)._jdf.queryExecution().executedPlan().toString()
    ranges = sorted(int(end) for end in re.findall(r"\bRange \(0, (\d+),", plan))
    assert ranges == [cfg.n_phones, cfg.n_messages], plan


def test_snapshot_reconstructs_ground_truth(msgs, events):
    """The FIXTURES.md §3 derivability contract: snapshot(events) ==
    generator ground truth on every shared column — and duplicates in the
    stream must not change the result (idempotence)."""
    snap = messages_snapshot(events).select(
        "message_id", "status", "sent_time", "delivered_time", "last_heartbeat"
    )
    truth = msgs.select("message_id", "status", "sent_time", "delivered_time", "last_heartbeat")
    assert snap.exceptAll(truth).count() == 0
    assert truth.exceptAll(snap).count() == 0


def test_carrier_active_counts_match(msgs, events):
    via_events = {r["carrier"]: r["active_count"] for r in carrier_active_counts(events).collect()}
    via_truth = {
        r["carrier"]: r["cnt"]
        for r in msgs.filter(F.col("status") != "delivered")
        .groupBy("carrier")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert via_events == via_truth


def test_timeout_alerts_ground_truth(msgs, events):
    """Alert <=> delivery_type in {delayed, never} when timeout sits
    between the normal and delayed delivery times (FIXTURES.md §4)."""
    timeout_ms = (CFG.normal_delivery_ms + CFG.delayed_delivery_ms) // 2
    alerts = timeout_alerts_batch(events, timeout_ms)
    alerted_ids = {r["message_id"] for r in alerts.select("message_id").collect()}
    expected = {
        r["message_id"]
        for r in msgs.filter(F.col("delivery_type").isin("delayed", "never")).collect()
    }
    assert alerted_ids == expected
    # resolved_late exactly for delayed (delivered after alert)
    late = {r["message_id"] for r in alerts.filter("resolved_late").collect()}
    expected_late = {
        r["message_id"]
        for r in msgs.filter(
            (F.col("delivery_type") == "delayed") & F.col("delivered_time").isNotNull()
        ).collect()
    }
    assert late == expected_late
