"""load_table's per-file schema memo (sources/tables.py): the first read
of a file infers its schema with a Spark job, a later read of the same
unchanged file starts none, and a rewritten file is inferred again."""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from banking_streamprocessing_demos_spark.sources.tables import load_table


def _jobs_started(spark, fn) -> int:
    """How many Spark jobs ``fn()`` starts.  The status tracker is fed
    asynchronously by the listener bus, so a fence job is submitted
    after ``fn``: once the tracker has seen the fence, it has seen every
    job ``fn`` started before it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, fence = f"memo-{uuid.uuid4().hex}", f"fence-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "load_table")
        fn()
        sc.setJobGroup(fence, "fence")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(fence):
        assert time.monotonic() < deadline, "fence job never reached the status tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), tmp_path / "region.parquet")
    loaded = []
    assert _jobs_started(spark, lambda: loaded.append(load_table(spark, str(tmp_path), "region"))) == 1
    assert _jobs_started(spark, lambda: loaded.append(load_table(spark, str(tmp_path), "region"))) == 0
    first, memoized = loaded
    assert first.schema == memoized.schema
    assert sorted(first.collect()) == sorted(memoized.collect())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"n_nationkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    pq.write_table(pa.table({"n_nationkey": [7], "n_name": ["X"], "n_comment": ["y"]}), path)
    df = load_table(spark, str(tmp_path), "nation")
    assert df.dtypes == [("n_nationkey", "bigint"), ("n_name", "string"), ("n_comment", "string")]
    assert [tuple(r) for r in df.collect()] == [(7, "X", "y")]


def test_events_nanos_timestamps_identical_when_memoized(spark, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS) goes through the
    ``nanosAsLong`` branch; the memoized read must give the same types
    and rows as the inferring one."""
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_060_000_000_001], pa.timestamp("ns"))
    table = pa.table({"event_id": [1, 2], "ts": ts})
    pq.write_table(table, tmp_path / "events.parquet", coerce_timestamps=None)
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    loaded = []
    assert _jobs_started(spark, lambda: loaded.append(load_table(spark, str(tmp_path), "events"))) == 1
    assert _jobs_started(spark, lambda: loaded.append(load_table(spark, str(tmp_path), "events"))) == 0
    first, memoized = loaded
    assert first.dtypes == memoized.dtypes == [("event_id", "bigint"), ("ts", "timestamp")]
    assert sorted(first.collect()) == sorted(memoized.collect())
    micros = sorted(r[0] for r in first.selectExpr("unix_micros(ts)").collect())
    assert micros == [1_700_000_000_123_456, 1_700_000_060_000_000]
