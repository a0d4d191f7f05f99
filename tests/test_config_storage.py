"""S6 env config + S3/D1-D3/U1 storage semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from banking_streamprocessing_demos_spark.config import (
    EngineConfig,
    GeneratorConfig,
    engine_config_from_env,
)
from banking_streamprocessing_demos_spark.sources.generator import generate_phones
from banking_streamprocessing_demos_spark.sources.storage import (
    create_table,
    insert_or_ignore,
    read_table,
    with_autoincrement_ids,
)


def test_env_config_defaults_and_overrides():
    assert engine_config_from_env({}) == EngineConfig(
        bootstrap_url="localhost:9092", topic="message_status", timeout_s=105, watermark_delay_s=30
    )
    cfg = engine_config_from_env(
        {"BOOTSTRAP_URL": "k:9092", "TOPIC": "alerts", "DETECTOR_TIMEOUT": "60", "WATERMARK_DELAY": "5"}
    )
    assert cfg == EngineConfig(bootstrap_url="k:9092", topic="alerts", timeout_s=60, watermark_delay_s=5)


def test_rates_must_sum_to_one():
    with pytest.raises(ValueError, match="sum to 1.0"):
        GeneratorConfig(normal_rate=0.5, delayed_rate=0.1, never_rate=0.1)


def test_insert_or_ignore(spark, tmp_path):
    base = str(tmp_path)
    create_table(spark, base, "phone_numbers")
    cfg = GeneratorConfig(n_phones=50, n_messages=1, seed="st")
    phones = generate_phones(spark, cfg)
    rows = with_autoincrement_ids(phones.drop("id")).select(
        "id", "phone_number", "carrier", "created_at",
        F.lit(0).alias("total_messages_sent"), F.lit(0).alias("total_messages_delivered"),
    )
    assert insert_or_ignore(spark, base, "phone_numbers", rows, "phone_number") == 50
    # re-inserting the same phones is a no-op (UNIQUE semantics)
    assert insert_or_ignore(spark, base, "phone_numbers", rows, "phone_number") == 0
    stored = read_table(spark, base, "phone_numbers")
    assert stored.count() == 50
    assert stored.select("phone_number").distinct().count() == 50
    # in-batch duplicate collapse: first wins
    dup_batch = rows.unionByName(rows)
    assert insert_or_ignore(spark, base, "phone_numbers", dup_batch, "phone_number") == 0


def test_robust_json_ingestion_quarantines_poison_pills(spark, tmp_path):
    """PERMISSIVE JSON ingestion must keep every well-formed event,
    route malformed lines to quarantine instead of failing the job, and
    null-fill rows with missing fields — the poison-pill tolerance a
    firehose ingest needs."""
    from banking_streamprocessing_demos_spark.sources.storage import (
        read_events_json_robust,
        split_quarantine,
    )

    p = tmp_path / "events.jsonl"
    lines = [
        '{"message_id": "m1", "status": "sent", "phone_number": 5551234, "carrier": "att", "timestamp": 1700000000000}',
        'this is not json at all',
        '{"message_id": "m2", "status": "delivered", "phone_number": 5555678, "carrier": "verizon", "timestamp": 1700000001000}',
        '{"message_id": "m3", "status": "sent"}',          # missing fields -> nulls
        '{"message_id": "m4", "timestamp": "not-a-long"}', # type mismatch -> corrupt
    ]
    p.write_text("\n".join(lines) + "\n")

    df = read_events_json_robust(spark, str(p))
    clean, quarantine = split_quarantine(df)
    got = {r.message_id: r for r in clean.collect()}
    assert set(got) == {"m1", "m2", "m3"}
    assert got["m1"].timestamp == 1_700_000_000_000
    assert got["m3"].phone_number is None and got["m3"].timestamp is None
    bad = [r._corrupt_record for r in quarantine.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)
    assert any("not-a-long" in b for b in bad)


def test_robust_json_ingestion_streaming_twin(spark, tmp_path):
    """The same PERMISSIVE schema works as a streaming source: corrupt
    lines surface in the corrupt column per micro-batch instead of
    killing the query (unified batch/stream ingestion semantics)."""
    from banking_streamprocessing_demos_spark.streaming.jobs import (
        read_event_stream_json_robust,
        run_to_memory,
    )

    d = tmp_path / "stream_in"
    d.mkdir()
    (d / "part-000.json").write_text(
        '{"message_id": "s1", "status": "sent", "phone_number": 1, "carrier": "att", "timestamp": 1700000000000}\n'
        "garbage line\n"
    )
    stream = read_event_stream_json_robust(spark, str(d))
    rows = run_to_memory(stream).collect()
    clean = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert [r.message_id for r in clean] == ["s1"]
    assert len(bad) == 1 and "garbage" in bad[0]._corrupt_record
