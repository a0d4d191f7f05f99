"""Cross-engine property test for WINDOW BOUNDARY semantics: the
repo's standing note is that random testdata essentially never lands
an event exactly on a window or session-gap boundary, so those
semantics are pinned only by hand-built cases.  This fuzz draws
timestamps DELIBERATELY from boundary lattices — exact multiples of
the hour (w1 tumbling) and exact 2h-gap spacings plus/minus 1 ms (w5
session merge-on-touch) — and compares Spark against the DuckDB
oracle side by side on every example."""

from __future__ import annotations

import os
import tempfile

import duckdb
from hypothesis import given, settings
from conftest import fuzz_examples
from hypothesis import strategies as st

from banking_streamprocessing_demos_spark.operators.relational import (
    REG,
    j7_range,
    w1,
    w3,
    w4,
    w5_session,
)

HOUR = 3_600_000
GAP = 7_200_000  # w5 session gap
GAP30 = 1_800_000  # w4 session gap
BASE = 1_700_000_000_000  # a fixed epoch anchor (ms)

# per event: (user_id, offset) where offset sits on or ±1ms around the
# boundary lattices — k*HOUR, k*GAP, k*GAP30 exercise exact-boundary
# landings; repeated offsets for one user produce timestamp TIES, which
# exercise the (ts, event_id) deterministic-ordering rule
offsets = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.integers(0, 6).flatmap(
            lambda k: st.sampled_from(
                [
                    k * HOUR - 1,
                    k * HOUR,
                    k * HOUR + 1,
                    k * GAP,
                    k * GAP + 1,
                    k * GAP30,
                    k * GAP30 + 1,
                    # j7's half-open [start, start+90s) window edges
                    k * 60_000 + 89_999,
                    k * 60_000 + 90_000,
                ]
            )
        ),
    ),
    min_size=1,
    max_size=14,
)


def _write_events(spark, rows: list[tuple[int, int]], sf: str) -> None:
    # alternate event types so j7 has error bursts; value = i%7 + 0.5 is
    # exactly representable, so DECIMAL sums match to the bit
    spark.createDataFrame(
        [
            (i, u, "error" if i % 2 == 0 else "click", BASE + off, i % 7 + 0.5)
            for i, (u, off) in enumerate(rows)
        ],
        "event_id long, user_id long, event_type string, ts_ms long, value double",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "timestamp_millis(ts_ms) AS ts", "value",
    ).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))


@settings(max_examples=fuzz_examples(8), deadline=None)
@given(offsets)
def test_window_ops_match_oracle_on_boundary_lattice(spark, rows) -> None:
    with tempfile.TemporaryDirectory() as sf:
        _write_events(spark, rows, sf)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
        )
        for fn, name in [
            (w1, "w1_hourly_event_counts"),
            (w3, "w3_event_gaps"),
            (w4, "w4_sessionization"),
            (w5_session, "w5_session_window"),
            (j7_range, "j7_range_join"),
        ]:
            spark_rows = sorted(tuple(r) for r in fn(spark, sf).collect())
            oracle_rows = sorted(
                tuple(r) for r in con.execute(REG.queries[name].oracle).fetchall()
            )
            assert spark_rows == oracle_rows, name


funnel_offsets = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.sampled_from(["view", "click", "purchase"]),
        st.sampled_from(
            # tie-heavy and deadline-edge-heavy: w7 requires STRICTLY
            # increasing stage times (a click AT first_view_ms must not
            # count), w8's deadline is INCLUSIVE (<= first + 1h)
            [0, 1, HOUR - 1, HOUR, HOUR + 1, 2 * HOUR, 2 * HOUR + 1]
        ),
    ),
    min_size=1,
    max_size=14,
)


@settings(max_examples=fuzz_examples(8), deadline=None)
@given(funnel_offsets)
def test_funnels_match_oracle_on_tie_heavy_lattice(spark, rows) -> None:
    from banking_streamprocessing_demos_spark.operators.relational import (
        w7_funnel,
        w8_funnel_windowed,
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
        for fn, name in [(w7_funnel, "w7_funnel"), (w8_funnel_windowed, "w8_funnel_windowed")]:
            spark_rows = sorted(tuple(r) for r in fn(spark, sf).collect())
            oracle_rows = sorted(
                tuple(r) for r in con.execute(REG.queries[name].oracle).fetchall()
            )
            assert spark_rows == oracle_rows, name


TIMEOUT = 2 * 86_400_000  # j5's alert deadline

pairing_offsets = st.lists(
    st.tuples(
        st.integers(1, 2),
        st.sampled_from(["signup", "purchase"]),
        st.sampled_from(
            # j5's two edges: delivery AT the first-sent timestamp counts
            # (>= inclusive); latency EXACTLY at the timeout does not
            # alert (> strict)
            [0, 1, TIMEOUT - 1, TIMEOUT, TIMEOUT + 1]
        ),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=fuzz_examples(8), deadline=None)
@given(pairing_offsets)
def test_timeout_pairing_matches_oracle_on_deadline_edges(spark, rows) -> None:
    from banking_streamprocessing_demos_spark.operators.relational import j5

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
        spark_rows = sorted(
            tuple(r) for r in j5(spark, sf).collect()
        )
        oracle_rows = sorted(
            tuple(r)
            for r in con.execute(REG.queries["j5_timeout_pairing"].oracle).fetchall()
        )
        assert spark_rows == oracle_rows
