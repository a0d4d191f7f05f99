"""Self-tests of the benchmark's output checks: each plants a wrong
result and shows the check catches it.  No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

from perfbench import harness, oracle

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TIMEOUT = 105_000


@pytest.fixture
def batch_alerts() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "message_id": ["never", "late", "tail"],
            "alert_time": [200_000, 300_000, 900_000],
            "resolved_late": [False, True, False],
        }
    )


def test_detector_check_accepts_right_output(batch_alerts):
    expected = oracle.detector_expectation(batch_alerts, final_wm_ms=950_000)
    kinds = {"alert": 3, "late_delivered": 1, "delivered": 7}
    assert oracle.check_detector(["never", "late", "tail"], kinds, expected, delivered_in_time=7) == []


def test_detector_check_only_requires_alerts_the_watermark_reached(batch_alerts):
    expected = oracle.detector_expectation(batch_alerts, final_wm_ms=500_000)
    kinds = {"alert": 2, "late_delivered": 1, "delivered": 7}
    assert oracle.check_detector(["never", "late"], kinds, expected, delivered_in_time=7) == []


@pytest.mark.parametrize(
    "alerts, kinds",
    [
        (["never", "late"], {"alert": 2, "late_delivered": 1, "delivered": 7}),  # missed alert
        (["never", "late", "tail", "x"], {"alert": 4, "late_delivered": 1, "delivered": 7}),  # spurious
        (["never", "late", "tail", "tail"], {"alert": 4, "late_delivered": 1, "delivered": 7}),  # twice
        (["never", "late", "tail"], {"alert": 3, "late_delivered": 0, "delivered": 7}),  # lost late
        (["never", "late", "tail"], {"alert": 3, "late_delivered": 1, "delivered": 6}),  # lost delivery
    ],
)
def test_detector_check_catches_planted_errors(batch_alerts, alerts, kinds):
    expected = oracle.detector_expectation(batch_alerts, final_wm_ms=950_000)
    assert oracle.check_detector(alerts, kinds, expected, delivered_in_time=7)


@pytest.fixture
def join_batch() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "message_id": ["ok", "closed", "open"],
            "first_sent_ms": [0, 0, 800_000],
            "delivered_ms": [30_000, None, None],
            "alerted": [False, True, True],
        }
    )


def test_join_check_follows_the_flush_rule(join_batch):
    got = join_batch.iloc[:2].copy()  # the open window has not flushed yet
    assert oracle.check_join(got, join_batch, final_wm_ms=500_000, timeout_ms=TIMEOUT) == []


def test_join_check_catches_planted_errors(join_batch):
    flipped = join_batch.iloc[:2].copy()
    flipped.loc[0, "alerted"] = True
    assert oracle.check_join(flipped, join_batch, 500_000, TIMEOUT)
    missing_match = join_batch.iloc[[1]].copy()
    assert oracle.check_join(missing_match, join_batch, 500_000, TIMEOUT)
    missing_closed = join_batch.iloc[[0]].copy()
    assert oracle.check_join(missing_closed, join_batch, 500_000, TIMEOUT)
    wrong_time = join_batch.iloc[:2].copy()
    wrong_time.loc[0, "delivered_ms"] = 31_000
    assert oracle.check_join(wrong_time, join_batch, 500_000, TIMEOUT)


def test_digest_matches_duckdb_twin_and_catches_a_wrong_row():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, CAST(range AS DOUBLE) * 1.5 AS v, 'c' || range AS s FROM range(50)")
    want, n = oracle.duck_digest(con, "SELECT s, k, v FROM t WHERE k % 2 = 0")
    rows = [(k, k * 1.5, f"c{k}") for k in range(0, 50, 2)]
    assert n == 25
    assert oracle.digest(list(reversed(rows)), ["k", "v", "s"]) == want
    rows[3] = (6, 9.5, "c6")
    assert oracle.digest(rows, ["k", "v", "s"]) != want


def test_store_model_insert_or_ignore():
    m = oracle.MessagesModel()
    row = dict(zip(oracle.LOOKUP_COLS, ["a", 1, "att", "sent", "never", 10, float("nan"), 40]))
    first = pd.DataFrame([row, {**row, "message_id": "b"}, {**row, "message_id": "b"}])
    assert m.fresh_keys(first) == ["a", "b"]
    assert m.insert(first) == 2
    again = pd.DataFrame([{**row, "carrier": "changed"}, {**row, "message_id": "c"}])
    assert len(m.fresh_keys(again)) == 1
    m.insert(again)
    assert m.lookup("a", m.version) == [("a", 1, "att", "sent", "never", 10, None, 40)]
    assert m.lookup("c", 2) == []
    assert m.active_per_carrier(m.version) == [("att", 3)]


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == harness.LAYER_UNITS
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + list(WORKLOADS)
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "store_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
