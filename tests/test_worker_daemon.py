"""The package's Python worker daemon (worker_daemon.py): a zip archive
on ``sys.path`` is re-read on ``importlib.invalidate_caches()`` only when
it changed, Spark's workers run with that rule in place, and a zip
shipped mid-session is still importable."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from banking_streamprocessing_demos_spark import worker_daemon
from banking_streamprocessing_demos_spark.session import PACKAGE_PARENT


@pytest.fixture
def changed_only(monkeypatch):
    """The daemon's rule installed in this process, with no archive stamped."""
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _unique(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex}"


def test_module_added_to_zip_on_path_is_found(changed_only, monkeypatch, tmp_path):
    first, second = _unique("wd_first"), _unique("wd_second")
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(first).VALUE == 1
    importlib.invalidate_caches()

    _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(second).VALUE == 2
    for name in (first, second):
        monkeypatch.delitem(sys.modules, name)


def test_unchanged_archive_is_not_reread(changed_only, monkeypatch, tmp_path):
    name = _unique("wd_same")
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {name: "VALUE = 3\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(name).VALUE == 3
    monkeypatch.delitem(sys.modules, name)

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    importlib.invalidate_caches()  # first sight of the archive: read and stamped
    assert reads.count(str(archive)) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    os.utime(archive, ns=(0, os.stat(archive).st_mtime_ns + 1))
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2


def test_python_tasks_run_with_the_package_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == worker_daemon.__name__

    def rule(batches):
        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"method": [f"{method.__module__}.{method.__qualname__}"]})

    rows = spark.range(4, numPartitions=2).mapInPandas(rule, "method string").collect()
    assert {r.method for r in rows} == {"__main__.invalidate_caches"}


def test_zip_added_mid_session_is_importable_in_udf(spark, tmp_path):
    name = _unique("wd_shipped")
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "def triple(x):\n    return 3 * x\n"})
    spark.sparkContext.addPyFile(str(archive))

    def call(batches):
        triple = importlib.import_module(name).triple
        for pdf in batches:
            yield pd.DataFrame({"y": triple(pdf["id"])})

    rows = spark.range(5, numPartitions=2).mapInPandas(call, "y long").collect()
    assert sorted(r.y for r in rows) == [0, 3, 6, 9, 12]


def test_daemon_starts_without_package_on_pythonpath(tmp_path):
    """A driver that finds the package through ``sys.path`` alone, run
    from a directory that does not hold it, can still run a pandas UDF:
    the workers' ``PYTHONPATH`` carries the package's parent."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_PARENT!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from banking_streamprocessing_demos_spark.session import get_spark

        spark = get_spark("daemon-path", master="local[1]")

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
