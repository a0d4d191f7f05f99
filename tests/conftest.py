from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from banking_streamprocessing_demos_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"

EVENT_FILE_SCHEMA = pa.schema(
    [
        ("message_id", pa.string()),
        ("status", pa.string()),
        ("phone_number", pa.int64()),
        ("carrier", pa.string()),
        ("timestamp", pa.int64()),
    ]
)


def write_trigger_files(path: str, batches) -> None:
    """Write each batch of event rows (a DataFrame or a list of tuples in
    ``EVENT_FILE_SCHEMA`` order) as one parquet file, with ascending
    mtimes and names, so a file-source replay with
    ``maxFilesPerTrigger=1`` reads one batch per trigger, in order."""
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=EVENT_FILE_SCHEMA.names)
        fname = os.path.join(path, f"chunk-{i:05d}.parquet")
        table = pa.Table.from_pandas(pdf, schema=EVENT_FILE_SCHEMA, preserve_index=False)
        pq.write_table(table, fname)
        os.utime(fname, (1_700_000_000 + i, 1_700_000_000 + i))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "engine-tests",
        master="local[4]",
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "10485760"},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from banking_streamprocessing_demos_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "integration: touches external infrastructure (Kafka connector/broker) "
        "when present; self-gating when absent",
    )


def fuzz_examples(n: int) -> int:
    """Per-test hypothesis example budget (round 13, r12 VERDICT #6):
    the fuzz suites grew past the tier-1 time budget (the full suite
    measured 20:07 with the declared example counts, and a timed-out,
    failure-free run was reported as failing).  Default budget is ~1/5 of the declared count (floor 4) —
    every fuzz property still RUNS and still covers its boundary
    lattice seeds; set SPARK_GRAFT_FULL_FUZZ=1 for the full counts
    (used for the committed end-of-round evidence run)."""
    import os

    if os.environ.get("SPARK_GRAFT_FULL_FUZZ"):
        return n
    return max(4, n // 5)
