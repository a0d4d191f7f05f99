"""Shared benchmark plumbing: metric names, spans, RSS sampling, the
environment stamp, Spark session start/stop and summary statistics.

Nothing here imports the package under test; the workload modules do.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass

# --- metric names (BENCHMARK.json lists exactly these) ----------------------

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "ops_per_s": "ops/s",
    "op_p50_ms": "ms",
}

STORE_SHAPES = ["p3", "p4", "j1", "j2", "j3", "a3", "a6", "u3", "srt1", "j5", "lookup", "carrier_active"]
CURATION_OPS = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "sim_ann_ivf",
    "text_tfidf_topk",
    "pipe_curation",
]

LAYER_UNITS = {
    "session.start_s": "s",
    "memory.peak_rss_mb": "MB",
    "generator.events": "count",
    "generator.s": "s",
    "avro_wire.encode_s": "s",
    "avro_wire.decode_s": "s",
    "avro_wire.decoded_rows_per_event": "ratio",
    "join.events_per_s": "events/s",
    "join.batch_p50_ms": "ms",
    "join.state.rows_peak": "count",
    "join.state.memory_bytes_peak": "bytes",
    "join.state.commit_ms": "ms",
    "trigger.batches": "count",
    "trigger.add_batch_ms": "ms",
    "trigger.query_planning_ms": "ms",
    "trigger.get_batch_ms": "ms",
    "trigger.wal_commit_ms": "ms",
    "trigger.commit_offsets_ms": "ms",
    "detector.update_calls": "count",
    "detector.timer_calls": "count",
    "detector.update_s": "s",
    "detector.rows_out": "count",
    "detector.local1_events_per_s": "events/s",
    "state.rows_peak": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.memory_bytes_peak": "bytes",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.commit_ms": "ms",
    "state.partitions": "count",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "task.count": "count",
    "task.count_per_batch": "count",
    "task.run_ms": "ms",
    "task.gc_ms": "ms",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes",
    "scan.files_read": "count",
    **{f"relational.{q}.{k}": "ms" for q in STORE_SHAPES for k in ("build_ms", "exec_ms")},
    "storage.insert_ms": "ms",
    "storage.rows_attempted": "count",
    "storage.rows_inserted": "count",
    "storage.files_in_table": "count",
    "storage.bytes_per_row": "bytes",
    **{f"curation.{op}.exec_ms": "ms" for op in CURATION_OPS},
    **{f"curation.{op}.rows_out": "count" for op in CURATION_OPS},
    "trace.overhead_ratio": "ratio",
}


# --- statistics --------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# --- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once
    when the run ends.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, run_id: str | None = None):
        return _Span(self, name, run_id)

    def add(self, name: str, start: float, end: float, parent: int | None, run_id: str | None = None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent, "run_id": run_id}
        )
        return len(self.spans) - 1

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, run_id: str | None) -> None:
        self.tracer, self.name, self.run_id = tracer, name, run_id
        self.id: int | None = None
        self.seconds = 0.0

    def __enter__(self) -> _Span:
        self.t0 = time.time()
        self.p0 = time.perf_counter()
        if self.tracer.enabled:
            self.id = self.tracer.add(self.name, self.t0, self.t0, self.tracer.current, self.run_id)
            self.tracer._stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self.p0
        if self.tracer.enabled:
            self.tracer._stack.pop()
            self.tracer.spans[self.id]["end"] = self.t0 + self.seconds


# --- peak RSS of this process and every descendant ---------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of the driver, the JVM and the Python
    workers every ``interval`` seconds; ``peak_mb`` is the largest sum."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --- environment stamp -------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def env_stamp(root: str, spark=None) -> dict:
    """Recorded with every result, never gated on."""
    import pyspark

    stamp = {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "loadavg_1m": os.getloadavg()[0],
        "git_commit": git_commit(root),
    }
    if spark is not None:
        stamp["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        stamp["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return stamp


# --- session lifecycle -------------------------------------------------------


@dataclass
class Session:
    """A started SparkSession plus what it took to start it."""

    spark: object
    start_s: float


def start_session(master: str | None = None, event_log_dir: str | None = None) -> Session:
    from banking_streamprocessing_demos_spark.session import get_spark

    extra = None
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t = time.perf_counter()
    spark = get_spark("perfbench", master=master, extra_conf=extra)
    return Session(spark, time.perf_counter() - t)


def shutdown_jvm(timeout: float = 60) -> None:
    """Stop the py4j gateway JVM this process launched and wait for it
    (and the Python worker daemon it owns) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def python_worker_warmup(spark, partitions: int) -> None:
    """Start the Python worker pool (pandas + Arrow imported) with one
    trivial Arrow UDF pass, so the first measured batch does not pay for
    worker start-up."""
    import pandas as pd  # noqa: F401

    def ident(batches):
        yield from batches

    spark.range(0, partitions * 8, 1, partitions).mapInPandas(ident, "id long").count()
