"""Fault tolerance (ST6/SURVEY §4): a detector query stopped mid-stream
and restarted from its checkpoint must produce exactly the same output
set as an uninterrupted run — no lost alerts, no duplicates.  This is
the engine's answer to the reference's SQLite-as-WAL recovery
(phone_message_producer.py:369-372)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from banking_streamprocessing_demos_spark.sources.generator import generate_events
from banking_streamprocessing_demos_spark.streaming.detector import detect_undelivered
from banking_streamprocessing_demos_spark.streaming.jobs import read_event_stream_from_files
from tests.test_streaming_detector import CFG, TIMEOUT_MS, _write_time_ordered_chunks


def _start(spark, events_dir, ckpt, name, out_dir):
    stream = read_event_stream_from_files(spark, events_dir, max_files_per_trigger=1)
    detected = detect_undelivered(stream, TIMEOUT_MS, watermark_delay="10 seconds")
    return (
        detected.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .queryName(name)
        .start()
    )


def _restart_and_reference(spark, tmp_path_factory, cut):
    """Detector output of a run stopped after ``cut`` event chunks and
    restarted from its checkpoint, that of phase 1 alone, and that of an
    uninterrupted run over the same chunks."""
    full_dir = str(tmp_path_factory.mktemp("full"))
    part_dir = str(tmp_path_factory.mktemp("part"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    out_dir = str(tmp_path_factory.mktemp("out"))

    pdf = generate_events(spark, CFG).toPandas()
    _write_time_ordered_chunks(pdf, full_dir)
    chunks = sorted(glob.glob(os.path.join(full_dir, "*.parquet")))
    assert len(chunks) > cut

    # phase 1: only the first ``cut`` chunks exist
    for f in chunks[:cut]:
        shutil.copy2(f, part_dir)
    q1 = _start(spark, part_dir, ckpt, "recovery_q1", out_dir)
    q1.awaitTermination(300)
    assert not q1.isActive
    phase1 = spark.read.parquet(out_dir).toPandas()

    # phase 2: the rest of the stream arrives; RESTART from checkpoint
    for f in chunks[cut:]:
        shutil.copy2(f, part_dir)
    q2 = _start(spark, part_dir, ckpt, "recovery_q2", out_dir)
    q2.awaitTermination(300)
    assert not q2.isActive
    recovered = spark.read.parquet(out_dir).toPandas()

    # reference run: same data, no interruption
    ref_ckpt = str(tmp_path_factory.mktemp("ref_ckpt"))
    ref_out = str(tmp_path_factory.mktemp("ref_out"))
    q3 = _start(spark, full_dir, ref_ckpt, "recovery_ref", ref_out)
    q3.awaitTermination(300)
    reference = spark.read.parquet(ref_out).toPandas()
    return phase1, recovered, reference


def _assert_same_output_no_dupes(recovered, reference) -> None:
    key_cols = ["message_id", "kind", "event_ms"]
    rec = sorted(map(tuple, recovered[key_cols].itertuples(index=False)))
    ref = sorted(map(tuple, reference[key_cols].itertuples(index=False)))
    assert rec == ref
    # exactly-once: no (message_id, kind) appears twice
    assert not recovered.duplicated(subset=["message_id", "kind"]).any()


def test_restart_from_checkpoint_no_dupes_no_loss(spark, tmp_path_factory):
    # cut before most alert deadlines pass, so output genuinely spans
    # the restart
    phase1, recovered, reference = _restart_and_reference(spark, tmp_path_factory, cut=4)
    assert len(recovered) > len(phase1), "phase 2 must emit additional results"
    _assert_same_output_no_dupes(recovered, reference)


@pytest.mark.xfail(
    strict=True,
    reason="known detector defect: an undelivered message that keeps "
    "heartbeating is evicted when its linger timer (first_sent + 2 x "
    "timeout) fires in the no-data batch that ends phase 1, and its next "
    "heartbeat opens a second lifecycle with a second alert; in the "
    "uninterrupted run the heartbeats share the batch with the timer and "
    "keep the state",
)
def test_restart_after_linger_timer_no_dupes_no_loss(spark, tmp_path_factory):
    # phase 1 ends past the earliest linger timer (~210 s)
    _, recovered, reference = _restart_and_reference(spark, tmp_path_factory, cut=9)
    _assert_same_output_no_dupes(recovered, reference)


def _state_partitions(q) -> set[int]:
    return {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
    }


def test_streams_sized_to_cores_old_checkpoint_keeps_its_count(
    spark, tmp_path_factory, monkeypatch
):
    """``start_stream`` starts a fresh detector pipeline at
    ``defaultParallelism`` shuffle partitions without touching the
    session's own value.  A checkpoint first written at another count (an
    older build started it at the session's 32) restarts at that count —
    Spark restores it from the offset log — and the restarted query
    emits the same alerts as an uninterrupted run, none twice."""
    from banking_streamprocessing_demos_spark.streaming import jobs

    cores = spark.sparkContext.defaultParallelism
    old_count = 32
    assert old_count != cores
    key = "spark.sql.shuffle.partitions"

    def run_pipeline(events_dir, out_dir, ckpt):
        # three chunks per trigger keep the test short: each batch at 32
        # partitions costs seconds
        stream = read_event_stream_from_files(spark, events_dir, max_files_per_trigger=3)
        detected = detect_undelivered(stream, TIMEOUT_MS, watermark_delay="10 seconds")
        q = jobs.run_detector_pipeline(
            detected, os.path.join(out_dir, "alerts"), os.path.join(out_dir, "summary"), ckpt
        )
        assert spark.conf.get(key) == str(old_count)
        q.awaitTermination(300)
        assert not q.isActive
        return _state_partitions(q), spark.read.parquet(os.path.join(out_dir, "alerts")).toPandas()

    full_dir = str(tmp_path_factory.mktemp("sized_full"))
    part_dir = str(tmp_path_factory.mktemp("sized_part"))
    fresh_out = str(tmp_path_factory.mktemp("sized_fresh_out"))
    fresh_ckpt = str(tmp_path_factory.mktemp("sized_fresh_ckpt"))
    old_out = str(tmp_path_factory.mktemp("sized_old_out"))
    old_ckpt = str(tmp_path_factory.mktemp("sized_old_ckpt"))
    pdf = generate_events(spark, CFG).toPandas()
    _write_time_ordered_chunks(pdf, full_dir)
    chunks = sorted(glob.glob(os.path.join(full_dir, "*.parquet")))
    # phase 1 ends between the first and the last alert deadline, and
    # before the earliest linger timer (see
    # test_restart_after_linger_timer_no_dupes_no_loss)
    cut = 5
    assert len(chunks) > cut

    session_value = spark.conf.get(key)
    spark.conf.set(key, str(old_count))
    try:
        partitions, reference = run_pipeline(full_dir, fresh_out, fresh_ckpt)
        assert partitions == {cores}

        # phase 1 as an older build ran it: a plain start() at the
        # session's count
        for f in chunks[:cut]:
            shutil.copy2(f, part_dir)
        with monkeypatch.context() as m:
            m.setattr(jobs, "start_stream", lambda writer, _spark: writer.start())
            partitions, phase1 = run_pipeline(part_dir, old_out, old_ckpt)
        assert partitions == {old_count}

        # phase 2: the rest arrives and this build restarts the checkpoint
        for f in chunks[cut:]:
            shutil.copy2(f, part_dir)
        partitions, recovered = run_pipeline(part_dir, old_out, old_ckpt)
        assert partitions == {old_count}
    finally:
        spark.conf.set(key, session_value)

    assert 0 < len(phase1) < len(recovered), "alerts must span the restart"
    _assert_same_output_no_dupes(recovered, reference)
