"""ST1 streaming invariants (SURVEY §5): replay the generated event
stream in event-time order through the stateful detector and check the
alert semantics against the batch ground truth.

Replay = one parquet file per 30 s event-time chunk, maxFilesPerTrigger=1,
so the watermark advances batch-by-batch exactly as a live stream would:
alerts must fire *before* late deliveries arrive (the demo's raison
d'être, ST5)."""

from __future__ import annotations

import pandas as pd
import pytest

from banking_streamprocessing_demos_spark.config import GeneratorConfig
from banking_streamprocessing_demos_spark.sources.generator import (
    generate_events,
    generate_messages,
)
from banking_streamprocessing_demos_spark.streaming.detector import detect_undelivered
from banking_streamprocessing_demos_spark.streaming.jobs import (
    read_event_stream_from_files,
    run_to_memory,
)
from tests.conftest import write_trigger_files

CFG = GeneratorConfig(
    n_phones=50,
    n_messages=60,
    seed="st1",
    stagger_ms=1000,
    normal_delivery_ms=30_000,
    delayed_delivery_ms=180_000,
    heartbeat_interval_ms=30_000,
    horizon_after_last_start_ms=400_000,
    duplicate_rate=0.05,
)
TIMEOUT_MS = 105_000  # between normal (30 s) and delayed (180 s)
CHUNK_MS = 30_000


def _write_time_ordered_chunks(events_pdf: pd.DataFrame, path: str) -> None:
    """One parquet file per event-time chunk, replayed in event-time order."""
    chunk_ids = (events_pdf["timestamp"] - events_pdf["timestamp"].min()) // CHUNK_MS
    write_trigger_files(
        path, [part.sort_values("timestamp") for _, part in events_pdf.groupby(chunk_ids)]
    )


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    events_dir = str(tmp_path_factory.mktemp("events"))
    _write_time_ordered_chunks(generate_events(spark, CFG).toPandas(), events_dir)
    stream = read_event_stream_from_files(spark, events_dir, max_files_per_trigger=1)
    detected = detect_undelivered(stream, TIMEOUT_MS, watermark_delay="10 seconds")
    out = run_to_memory(detected).toPandas()
    truth = generate_messages(spark, CFG).toPandas().set_index("message_id")
    return out, truth


def test_alert_iff_late_or_never(replayed):
    out, truth = replayed
    alerts = out.loc[out["kind"] == "alert"]
    expected = set(truth.index[truth["delivery_type"].isin(["delayed", "never"])])
    assert set(alerts["message_id"]) == expected
    # exactly once per message despite duplicates
    assert alerts["message_id"].is_unique


def test_normal_messages_deliver_without_alert(replayed):
    out, truth = replayed
    delivered = out.loc[out["kind"] == "delivered"]
    expected = set(truth.index[truth["delivery_type"] == "normal"])
    assert set(delivered["message_id"]) == expected
    assert delivered["message_id"].is_unique
    lat = delivered["latency_ms"].unique()
    assert list(lat) == [CFG.normal_delivery_ms]


def test_late_delivery_resolves_alert(replayed):
    out, truth = replayed
    late = out.loc[out["kind"] == "late_delivered"]
    expected = set(truth.index[truth["delivery_type"] == "delayed"])
    assert set(late["message_id"]) == expected
    assert (late["latency_ms"] == CFG.delayed_delivery_ms).all()


def test_rocksdb_state_store_same_output(spark, replayed, tmp_path_factory):
    """The detector must produce identical output on the RocksDB state
    store provider (the 100 TB-scale provider) as on the default HDFS
    provider.  Isolated newSession so the conf can't leak."""
    out_default, _ = replayed
    rocks = spark.newSession()
    rocks.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    events_dir = str(tmp_path_factory.mktemp("rocks_events"))
    _write_time_ordered_chunks(generate_events(rocks, CFG).toPandas(), events_dir)
    stream = read_event_stream_from_files(rocks, events_dir, max_files_per_trigger=1)
    detected = detect_undelivered(stream, TIMEOUT_MS, watermark_delay="10 seconds")
    out_rocks = run_to_memory(detected).toPandas()
    key = ["message_id", "kind"]
    a = out_default.sort_values(key).reset_index(drop=True)
    b = out_rocks.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for col in ["message_id", "kind", "first_sent_ms", "event_ms"]:
        assert list(a[col]) == list(b[col]), col


def test_alert_times(replayed):
    out, truth = replayed
    alerts = out.loc[out["kind"] == "alert"].set_index("message_id")
    for mid, row in alerts.iterrows():
        assert row["event_ms"] == truth.loc[mid, "sent_time"] + TIMEOUT_MS
        assert row["first_sent_ms"] == truth.loc[mid, "sent_time"]
