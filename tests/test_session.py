"""get_spark's machine-derived defaults and its worker-daemon settings,
read from the builder's options without starting a session."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from banking_streamprocessing_demos_spark import demo
from banking_streamprocessing_demos_spark.session import PACKAGE_PARENT, get_spark, machine_cpus


@pytest.fixture
def options(monkeypatch):
    """``get_spark`` returns its builder's options instead of a session."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))


def test_default_master_has_one_slot_per_cpu(options, monkeypatch):
    assert get_spark()["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert get_spark()["spark.master"] == "local[3]"


def test_demo_session_uses_get_sparks_default_master(monkeypatch):
    """Both demo modes leave the master to ``get_spark``, so they honour
    ``SPARK_GRAFT_CPUS`` like every other entry point."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    masters = []

    class Built(Exception):
        pass

    def built(self):
        masters.append(self._options["spark.master"])
        raise Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", built)
    for argv in ([], ["--live"]):
        with pytest.raises(Built):
            demo.main(argv)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    with pytest.raises(Built):
        demo.main([])
    assert masters == [f"local[{machine_cpus()}]"] * 2 + ["local[3]"]


def test_local_sessions_run_the_package_daemon(options):
    conf = get_spark(master="local[2]", extra_conf={"spark.executorEnv.PYTHONPATH": "/srv/extra"})
    assert conf["spark.python.daemon.module"] == "banking_streamprocessing_demos_spark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([PACKAGE_PARENT, "/srv/extra"])


def test_cluster_sessions_keep_pysparks_daemon(options):
    conf = get_spark(master="spark://head:7077")
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf
