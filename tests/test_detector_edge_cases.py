"""Hand-crafted adversarial replays for the detector: out-of-order
events within the watermark, delivered-without-sent orphans, duplicate
deliveries arriving in later batches, and heartbeats continuing after
delivery (at-least-once reality, ST6)."""

from __future__ import annotations

import os

import pandas as pd

from banking_streamprocessing_demos_spark.streaming.detector import detect_undelivered
from banking_streamprocessing_demos_spark.streaming.jobs import (
    finish,
    read_event_stream_from_files,
    run_to_memory,
)
from tests.conftest import write_trigger_files

T0 = 1_700_000_000_000
TIMEOUT = 60_000


def _run(spark, path):
    stream = read_event_stream_from_files(spark, path, max_files_per_trigger=1)
    det = detect_undelivered(stream, TIMEOUT, watermark_delay="5 seconds")
    return run_to_memory(det).toPandas()


def test_out_of_order_sent_updates_first_sent(spark, tmp_path):
    """A heartbeat arrives before the true first `sent` (reordering
    within the watermark): latency must be measured from the EARLIEST
    sent timestamp, not arrival order (§1.3 heartbeat-dedup invariant)."""
    chunks = [
        [("m1", "sent", 1, "att", T0 + 30_000)],        # heartbeat arrives first
        [("m1", "sent", 1, "att", T0)],                 # true first sent, late arrival
        [("m1", "delivered", 1, "att", T0 + 45_000)],
        [("mx", "sent", 9, "att", T0 + 400_000)],       # watermark pusher
    ]
    write_trigger_files(str(tmp_path), chunks)
    out = _run(spark, str(tmp_path))
    d = out.loc[out["message_id"] == "m1"]
    assert list(d["kind"]) == ["delivered"]
    assert int(d["first_sent_ms"].iloc[0]) == T0
    assert int(d["latency_ms"].iloc[0]) == 45_000


def test_orphan_delivered_without_sent(spark, tmp_path):
    """A `delivered` whose `sent` was lost upstream must not crash and
    must emit a resolution with null first_sent/latency."""
    chunks = [
        [("orphan", "delivered", 2, "verizon", T0 + 10_000)],
        [("mx", "sent", 9, "att", T0 + 400_000)],
    ]
    write_trigger_files(str(tmp_path), chunks)
    out = _run(spark, str(tmp_path))
    d = out.loc[out["message_id"] == "orphan"]
    assert list(d["kind"]) == ["delivered"]
    assert pd.isna(d["first_sent_ms"].iloc[0]) and pd.isna(d["latency_ms"].iloc[0])


def test_duplicate_delivered_across_batches_emits_once(spark, tmp_path):
    chunks = [
        [("m2", "sent", 3, "t-mobile", T0)],
        [("m2", "delivered", 3, "t-mobile", T0 + 30_000)],
        [("m2", "delivered", 3, "t-mobile", T0 + 30_000)],  # redelivery
        [("m2", "sent", 3, "t-mobile", T0 + 30_000 - 1)],   # stale heartbeat after delivery
        [("mx", "sent", 9, "att", T0 + 400_000)],
    ]
    write_trigger_files(str(tmp_path), chunks)
    out = _run(spark, str(tmp_path))
    d = out.loc[out["message_id"] == "m2"]
    assert list(d["kind"]) == ["delivered"], d
    assert len(d) == 1


def test_alert_then_duplicate_late_delivery(spark, tmp_path):
    """Alert fires; the late delivery arrives twice — exactly one
    late_delivered resolution."""
    chunks = [
        [("m3", "sent", 4, "att", T0)],
        [("mw", "sent", 9, "att", T0 + 120_000)],            # watermark passes deadline
        [("m3", "delivered", 4, "att", T0 + 200_000)],
        [("m3", "delivered", 4, "att", T0 + 200_000)],
        [("mw2", "sent", 9, "att", T0 + 500_000)],
    ]
    write_trigger_files(str(tmp_path), chunks)
    out = _run(spark, str(tmp_path))
    d = out.loc[out["message_id"] == "m3"].sort_values("event_ms")
    assert list(d["kind"]) == ["alert", "late_delivered"], d
    assert int(d.loc[d["kind"] == "late_delivered", "latency_ms"].iloc[0]) == 200_000


def test_unknown_status_creates_no_state(spark, tmp_path):
    """Events whose status is neither 'sent' nor 'delivered' (corrupt or
    future producer values) must flow through without creating state: a
    fresh key with no recognizable event would otherwise become an
    immortal state-store entry (no timer is ever armed for it).  The
    state-store row count at the end must equal the live keys from REAL
    lifecycles only."""
    d = str(tmp_path / "ev")
    os.makedirs(d)
    chunks = [
        # batch 1: three unknown-status keys + one real sent
        [
            ("junk-1", "failed", 1000, "att", T0),
            ("junk-2", "queued", 1001, "att", T0 + 10),
            ("junk-3", "", 1002, "verizon", T0 + 20),
            ("real-1", "sent", 1003, "att", T0 + 30),
        ],
        # batch 2: deliver the real one; advance watermark far past
        # real-1's eviction slack so its state is also dropped
        [("real-1", "delivered", 1003, "att", T0 + 1_000)],
        [("wm-pusher", "sent", 1004, "t-mobile", T0 + 10 * TIMEOUT)],
    ]
    write_trigger_files(d, chunks)
    stream = read_event_stream_from_files(spark, d, max_files_per_trigger=1)
    det = detect_undelivered(stream, TIMEOUT, watermark_delay="5 seconds")
    q = finish(
        det.writeStream.format("memory")
        .queryName("unknown_status_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    out = spark.table("unknown_status_out").toPandas()
    # junk keys never surface in output
    assert not set(out["message_id"]) & {"junk-1", "junk-2", "junk-3"}
    assert ("real-1", "delivered") in set(zip(out["message_id"], out["kind"]))
    # state rows at the last batch: real-1 evicted (watermark passed its
    # slack), junk keys never stored → only wm-pusher's state remains
    progress = [p for p in (q.recentProgress or []) if p["stateOperators"]]
    assert progress, "no state-operator progress recorded"
    assert progress[-1]["stateOperators"][0]["numRowsTotal"] == 1
