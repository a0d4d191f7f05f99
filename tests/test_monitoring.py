"""ST9 monitoring: the query listener must capture batch progress and
state size; status_snapshot must roll up detector output."""

from __future__ import annotations

import time

from banking_streamprocessing_demos_spark.config import GeneratorConfig
from banking_streamprocessing_demos_spark.sources.generator import generate_events
from banking_streamprocessing_demos_spark.streaming.detector import detect_undelivered
from banking_streamprocessing_demos_spark.streaming.jobs import (
    read_event_stream_from_files,
    run_to_memory,
)
from banking_streamprocessing_demos_spark.streaming.monitoring import (
    EngineQueryListener,
    status_snapshot,
)

CFG = GeneratorConfig(n_phones=30, n_messages=60, seed="mon")


def test_listener_and_snapshot(spark, tmp_path):
    listener = EngineQueryListener()
    spark.streams.addListener(listener)
    try:
        events_dir = str(tmp_path / "ev")
        generate_events(spark, CFG).coalesce(2).write.mode("overwrite").parquet(events_dir)
        stream = read_event_stream_from_files(spark, events_dir)
        det = detect_undelivered(stream, timeout_ms=105_000, watermark_delay="10 seconds")
        out = run_to_memory(det)
        # listener events are delivered asynchronously; the run is the
        # only query the listener sees
        deadline = time.time() + 20
        while time.time() < deadline:
            s = next(iter(listener.stats.values()), None)
            if s and s.batches > 0 and s.input_rows > 0:
                break
            time.sleep(0.5)
        assert len(listener.stats) == 1
        assert s.batches > 0
        assert s.input_rows > 0 and s.busy_ms > 0
        assert s.error_count == 0

        snap = status_snapshot(out)
        rows = snap.collect()
        grand = [r for r in rows if r.kind is None and r.carrier is None]
        assert len(grand) == 1
        assert grand[0].cnt == out.count()
    finally:
        spark.streams.removeListener(listener)
