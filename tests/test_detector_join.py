"""The stream-stream-join detector variant must classify every message
identically to the event-time ground truth on a heartbeat-free stream
(its documented operating constraint)."""

from __future__ import annotations

import pandas as pd

from banking_streamprocessing_demos_spark.config import GeneratorConfig
from banking_streamprocessing_demos_spark.sources.generator import (
    generate_events,
    generate_messages,
)
from banking_streamprocessing_demos_spark.streaming.detector_join import (
    detect_undelivered_join,
)
from banking_streamprocessing_demos_spark.streaming.jobs import (
    finish,
    read_event_stream_from_files,
    run_to_memory,
)
from tests.conftest import write_trigger_files
from tests.test_streaming_detector import _write_time_ordered_chunks

# heartbeat-free: interval beyond the horizon (the join plan's operating
# constraint); duplicates stay on to exercise both-side dedup
CFG = GeneratorConfig(
    n_phones=40,
    n_messages=60,
    seed="join1",
    stagger_ms=1000,
    normal_delivery_ms=30_000,
    delayed_delivery_ms=180_000,
    heartbeat_interval_ms=10_000_000,
    horizon_after_last_start_ms=400_000,
    duplicate_rate=0.05,
)
TIMEOUT_MS = 105_000


def test_join_variant_matches_ground_truth(spark, tmp_path_factory):
    events_dir = str(tmp_path_factory.mktemp("join_events"))
    pdf = generate_events(spark, CFG).toPandas()
    # trailing watermark pusher: outer rows flush on data-driven
    # watermark advances (see detector_join docstring); production
    # streams have heartbeats doing this continuously
    pusher = pd.DataFrame(
        [
            {
                "message_id": "wm-pusher",
                "status": "sent",
                "phone_number": 1,
                "carrier": "att",
                "timestamp": int(pdf["timestamp"].max()) + 1_000_000,
            }
        ]
    )
    pdf = pd.concat([pdf, pusher], ignore_index=True)
    _write_time_ordered_chunks(pdf, events_dir)

    stream = read_event_stream_from_files(spark, events_dir, max_files_per_trigger=1)
    out = detect_undelivered_join(stream, TIMEOUT_MS, watermark_delay="10 seconds")
    got = run_to_memory(out).toPandas()
    truth = generate_messages(spark, CFG).toPandas().set_index("message_id")

    got = got.loc[got["message_id"] != "wm-pusher"].set_index("message_id")
    assert not got.index.has_duplicates
    for mid, row in truth.iterrows():
        assert mid in got.index, f"{mid} missing from join output"
        expect_alert = row["delivery_type"] in ("delayed", "never")
        assert bool(got.loc[mid, "alerted"]) == expect_alert, mid
        if row["delivery_type"] == "normal":
            assert int(got.loc[mid, "delivered_ms"]) == int(row["delivered_time"])


def test_join_variant_batch_mode(spark):
    """Same plan runs as a batch DataFrame (unified semantics)."""
    events = generate_events(spark, CFG)
    out = detect_undelivered_join(events, TIMEOUT_MS).toPandas().set_index("message_id")
    truth = generate_messages(spark, CFG).toPandas().set_index("message_id")
    assert len(out) == len(truth)
    for mid, row in truth.iterrows():
        assert bool(out.loc[mid, "alerted"]) == (row["delivery_type"] in ("delayed", "never"))


def test_outer_row_flush_semantics(spark, tmp_path_factory):
    """Pins the stream-stream left-outer join's flush rules (the
    documented caveat, turned executable — detector_join.py docstring):

    - matched pairs emit in the batch where the later side arrives;
    - outer (alert) rows emit once the GLOBAL watermark — the MIN of
      the sent- and delivered-side watermarks — passes first_sent +
      timeout, including in availableNow's trailing no-data batch;
    - rows whose join window closes after the final global watermark
      never flush: stopping the stream strands exactly that tail.

    Timeline (timeout 105 s, watermark delay 10 s, one file = one
    micro-batch):  A sent@0 (never delivered), B sent@0/delivered@30s,
    E sent@87.5s (close 192.5 s), D sent@200s/delivered@205s,
    C sent@300s.  Final global watermark = min(300, 205) - 10 = 195 s:
    A flushes on the data-driven advance to 190 s, E only in the final
    no-data batch at 195 s, C (close 405 s) stays buffered.
    """
    events_dir = str(tmp_path_factory.mktemp("flush_events"))
    ckpt = str(tmp_path_factory.mktemp("flush_ckpt"))
    base = 1_700_000_000_000
    rows = [
        ("A", "sent", 0.0),
        ("B", "sent", 0.0),
        ("B", "delivered", 30.0),
        ("E", "sent", 87.5),
        ("D", "sent", 200.0),
        ("D", "delivered", 205.0),
        ("C", "sent", 300.0),
    ]
    write_trigger_files(
        events_dir,
        [
            [(mid, status, i, "att", base + int(off_s * 1000))]
            for i, (mid, status, off_s) in enumerate(rows)
        ],
    )

    stream = read_event_stream_from_files(spark, events_dir, max_files_per_trigger=1)
    out = detect_undelivered_join(stream, 105_000, watermark_delay="10 seconds")
    q = finish(
        out.writeStream.format("memory")
        .queryName("flush_probe_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    progress = q.recentProgress
    got = spark.table("flush_probe_out").toPandas().set_index("message_id")

    # matched pairs emitted, no alert
    assert not bool(got.loc["B", "alerted"]) and int(got.loc["B", "delivered_ms"]) == base + 30_000
    assert not bool(got.loc["D", "alerted"]) and int(got.loc["D", "delivered_ms"]) == base + 205_000
    # outer rows whose window closed before the final watermark flushed
    assert bool(got.loc["A", "alerted"])
    assert bool(got.loc["E", "alerted"])
    # C's window (closes at 405 s) outlives the final global watermark
    # (195 s): stopping the stream strands it — the pinned caveat.
    assert "C" not in got.index

    # the final batch is availableNow's no-data batch and it DID flush
    # (E became eligible only on that batch's watermark advance)
    last = progress[-1]
    assert last["numInputRows"] == 0
    assert last["sink"]["numOutputRows"] == 1
    # global watermark = min(sent_max, delivered_max) - delay: the
    # delivered side (max 205 s) pins it despite sent reaching 300 s
    final_wm = last["eventTime"]["watermark"]
    assert final_wm == "2023-11-14T22:16:35.000Z"  # base+205s-10s in UTC
