"""S6 env config + S3/D1-D3/U1 storage semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import PythonException
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
    # in-batch duplicates of stored keys add nothing
    dup_batch = rows.unionByName(rows)
    assert insert_or_ignore(spark, base, "phone_numbers", dup_batch, "phone_number") == 0


def _messages(ids):
    """``messages`` rows keyed ``m<id>`` from a frame with a long ``id``."""
    return ids.select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("message_id"),
        (F.lit(5_550_000) + F.col("id")).alias("phone_number"),
        F.lit("att").alias("carrier"),
        F.lit("sent").alias("status"),
        F.lit("normal").alias("delivery_type"),
        (F.lit(1_700_000_000_000) + F.col("id")).alias("sent_time"),
        F.lit(None).cast("long").alias("delivered_time"),
        F.lit(1_700_000_000_000).alias("last_heartbeat"),
        F.timestamp_millis(F.lit(1_700_000_000_000)).alias("created_at"),
    )


def _messages_table(spark, tmp_path, lo=0, hi=0):
    base = str(tmp_path)
    create_table(spark, base, "messages")
    if hi > lo:
        assert insert_or_ignore(spark, base, "messages", _messages(spark.range(lo, hi)), "message_id") == hi - lo
    return base


def _files(base):
    return sorted(os.listdir(os.path.join(base, "messages")))


def _parts(base):
    return [f for f in _files(base) if f.startswith("part-") and f.endswith(".parquet")]


def _insert(spark, base, rows):
    return insert_or_ignore(spark, base, "messages", rows, "message_id")


def test_small_insert_writes_one_file(spark, tmp_path):
    base = _messages_table(spark, tmp_path)
    before = _parts(base)
    assert _insert(spark, base, _messages(spark.range(0, 300))) == 300
    assert len(set(_parts(base)) - set(before)) == 1
    assert read_table(spark, base, "messages").count() == 300


def test_insert_of_stored_keys_returns_zero_and_adds_no_file(spark, tmp_path):
    base = _messages_table(spark, tmp_path, 0, 300)
    before = _files(base)
    stored_again = _messages(spark.range(0, 300)).withColumn("carrier", F.lit("ignored"))
    assert _insert(spark, base, stored_again) == 0
    assert _files(base) == before
    assert read_table(spark, base, "messages").filter(F.col("carrier") == "ignored").count() == 0


def test_empty_insert_returns_zero_and_adds_no_file(spark, tmp_path):
    base = _messages_table(spark, tmp_path, 0, 10)
    before = _files(base)
    assert _insert(spark, base, _messages(spark.range(0))) == 0
    assert _files(base) == before


def test_insert_count_with_in_batch_and_stored_duplicates(spark, tmp_path):
    base = _messages_table(spark, tmp_path, 0, 200)
    batch = (
        _messages(spark.range(100, 300))  # 100 stored keys, 100 fresh
        .unionByName(_messages(spark.range(250, 300)))  # in-batch duplicates
        .unionByName(_messages(spark.range(300, 320)))
    )
    n = _insert(spark, base, batch)
    stored = read_table(spark, base, "messages")
    assert n == 120 == stored.count() - 200
    assert stored.select("message_id").distinct().count() == 320


def test_insert_count_is_rows_stored_for_autoincrement_keys(spark, tmp_path):
    """Keys from ``with_autoincrement_ids`` depend on the partitioning:
    the count must be the rows this one evaluation wrote."""
    base = _messages_table(spark, tmp_path)
    one_part = with_autoincrement_ids(spark.range(0, 300, numPartitions=1))
    assert _insert(spark, base, _messages(one_part)) == 300
    three_parts = with_autoincrement_ids(spark.range(0, 300, numPartitions=3))
    n = _insert(spark, base, _messages(three_parts))
    stored = read_table(spark, base, "messages")
    assert n == stored.count() - 300 == 200  # ids 0-99 were stored
    assert stored.select("message_id").distinct().count() == 500


def test_failed_insert_leaves_the_table_as_it_was(spark, tmp_path):
    base = _messages_table(spark, tmp_path, 0, 100)
    before_files, before_rows = _files(base), sorted(read_table(spark, base, "messages").collect())

    @F.udf("string")
    def poison(message_id):
        if message_id == "m150":
            raise ValueError("poison row")
        return "att"

    rows = _messages(spark.range(50, 200)).withColumn("carrier", poison("message_id"))
    with pytest.raises(PythonException, match="poison row"):
        _insert(spark, base, rows)
    assert _files(base) == before_files
    assert sorted(read_table(spark, base, "messages").collect()) == before_rows


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
