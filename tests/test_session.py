"""get_spark's machine-derived defaults and its worker-daemon settings,
read from the builder's options without starting a session, and the
shuffle partition count it gives the running session's streams."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from banking_streamprocessing_demos_spark import demo
from banking_streamprocessing_demos_spark.session import PACKAGE_PARENT, get_spark, machine_cpus
from banking_streamprocessing_demos_spark.streaming.jobs import (
    finish,
    read_event_stream_from_files,
)
from conftest import write_trigger_files


class Built(Exception):
    """Raised by ``getOrCreate`` in place of building a session."""


def raise_options(self):
    raise Built(dict(self._options))


@pytest.fixture
def options(monkeypatch):
    """Calls ``get_spark`` and returns its builder's options; the builder
    raises them at ``getOrCreate`` instead of starting a session."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", raise_options)

    def options_of(**kwargs):
        with pytest.raises(Built) as built:
            get_spark(**kwargs)
        return built.value.args[0]

    return options_of


def test_default_master_has_one_slot_per_cpu(options, monkeypatch):
    assert options()["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert options()["spark.master"] == "local[3]"


def test_demo_session_uses_get_sparks_default_master(options, monkeypatch):
    """Both demo modes leave the master to ``get_spark``, so they honour
    ``SPARK_GRAFT_CPUS`` like every other entry point."""
    masters = []
    for argv in ([], ["--live"]):
        with pytest.raises(Built) as built:
            demo.main(argv)
        masters.append(built.value.args[0]["spark.master"])
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    with pytest.raises(Built) as built:
        demo.main([])
    masters.append(built.value.args[0]["spark.master"])
    assert masters == [f"local[{machine_cpus()}]"] * 2 + ["local[3]"]


def test_local_sessions_run_the_package_daemon(options):
    conf = options(master="local[2]", extra_conf={"spark.executorEnv.PYTHONPATH": "/srv/extra"})
    assert conf["spark.python.daemon.module"] == "banking_streamprocessing_demos_spark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([PACKAGE_PARENT, "/srv/extra"])


def test_cluster_sessions_keep_pysparks_daemon(options):
    conf = options(master="spark://head:7077")
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf


def test_plain_start_runs_at_one_partition_per_core(spark, tmp_path):
    """``get_spark`` leaves the session at ``defaultParallelism`` shuffle
    partitions, so a stateful stream started with a plain ``start()``
    runs its state store at one partition per core."""
    cores = spark.sparkContext.defaultParallelism
    assert get_spark("engine-tests").conf.get("spark.sql.shuffle.partitions") == str(cores)
    (tmp_path / "in").mkdir()
    write_trigger_files(str(tmp_path / "in"), [[("m-1", "sent", 2125550000, "att", 1)]])
    q = finish(
        read_event_stream_from_files(spark, str(tmp_path / "in"))
        .groupBy("status")
        .count()
        .writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert {
        op["numShufflePartitions"] for p in q.recentProgress for op in p["stateOperators"]
    } == {cores}
