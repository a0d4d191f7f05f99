"""Cross-engine property test for the quantile/median ops: exact
interpolated percentiles (Spark `percentile` vs DuckDB
`quantile_cont`) and the rank-selected exact group median — the two
places where cross-engine divergence classically hides in
interpolation arithmetic and tie handling.  Inputs are tie-heavy
(duplicate latencies and values, even AND odd group sizes)."""

from __future__ import annotations

import os
import tempfile

import duckdb
from hypothesis import given, settings
from conftest import fuzz_examples
from hypothesis import strategies as st

from banking_streamprocessing_demos_spark.operators.relational import (
    REG,
    a12_exact_group_median,
    w2,
)

BASE = 1_700_000_000_000

# (user_id, event_type, ts_offset_s, value): small offset/value pools
# force duplicate latencies and tied medians; 1-3 users give tiny n
# (odd and even) per group
events = st.lists(
    st.tuples(
        st.integers(1, 3),
        st.sampled_from(["signup", "purchase"]),
        st.integers(0, 8),
        st.sampled_from([1.0, 2.5, 2.5, 7.25, 10.0]),
    ),
    min_size=2,
    max_size=16,
)


@settings(max_examples=fuzz_examples(10), deadline=None)
@given(events)
def test_quantile_and_median_match_oracle(spark, rows) -> None:
    with tempfile.TemporaryDirectory() as sf:
        spark.createDataFrame(
            [
                (i, u, et, BASE + off * 1000, v)
                for i, (u, et, off, v) in enumerate(rows)
            ],
            "event_id long, user_id long, event_type string, ts_ms long, value double",
        ).selectExpr(
            "event_id", "user_id", "event_type",
            "timestamp_millis(ts_ms) AS ts", "value",
        ).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
        )
        for fn, name in [
            (a12_exact_group_median, "a12_exact_group_median"),
            (w2, "w2_latency_quantiles"),
        ]:
            spark_rows = sorted(
                tuple(r) for r in fn(spark, sf).collect()
            )
            oracle_rows = sorted(
                tuple(r) for r in con.execute(REG.queries[name].oracle).fetchall()
            )
            assert spark_rows == oracle_rows, name


# --------------------------------------------------------------------------
# tie-heavy snapshot + day-boundary cohort fuzz (same events fixture shape)
# --------------------------------------------------------------------------

DAY = 86_400_000

snapshot_events = st.lists(
    st.tuples(
        st.integers(1, 3),
        st.sampled_from(["signup", "purchase", "click"]),
        # offsets on and around day boundaries, with frequent exact ties
        st.integers(0, 3).flatmap(
            lambda k: st.sampled_from([k * DAY - 1, k * DAY, k * DAY + 1])
        ),
    ),
    min_size=1,
    max_size=16,
)


@settings(max_examples=fuzz_examples(10), deadline=None)
@given(snapshot_events)
def test_snapshot_and_cohorts_match_oracle(spark, rows) -> None:
    """u3's last-event-wins must break timestamp TIES by event_id in
    both engines; w6's cohort/day-offset floor-division must land
    events exactly at day boundaries in the same cell."""
    from banking_streamprocessing_demos_spark.operators.relational import (
        u3,
        w6_retention,
    )

    with tempfile.TemporaryDirectory() as sf:
        spark.createDataFrame(
            [(i, u, et, BASE + off) for i, (u, et, off) in enumerate(rows)],
            "event_id long, user_id long, event_type string, ts_ms long",
        ).selectExpr(
            "event_id", "user_id", "event_type", "timestamp_millis(ts_ms) AS ts"
        ).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
        )
        for fn, name in [
            (u3, "u3_snapshot_last_event_wins"),
            (w6_retention, "w6_retention_cohorts"),
        ]:
            spark_rows = sorted(tuple(r) for r in fn(spark, sf).collect())
            oracle_rows = sorted(
                tuple(r) for r in con.execute(REG.queries[name].oracle).fetchall()
            )
            assert spark_rows == oracle_rows, name
