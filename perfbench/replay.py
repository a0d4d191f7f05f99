"""The streaming replays.

``detector_replay`` (a workload): a seeded ``generate_events`` log,
written as time-ordered parquet files (one per micro-batch), replayed
through ``read_event_stream_from_files`` -> ``detect_undelivered`` ->
``run_detector_pipeline``.  A run replays the whole log, from a fresh
checkpoint each time, until the measured time is used up, and checks
every replay against the batch twin ``timeout_alerts_batch``.

The wire -> join path (the same log encoded with ``to_wire`` into
Confluent-framed ``(key, value)`` parquet files, replayed through a file
stream -> ``from_wire`` -> ``detect_undelivered_join``) is a traced side
pass that fills the ``avro_wire.*`` and ``join.*`` layers; it is checked
against the batch ``detect_undelivered_join``.
"""

from __future__ import annotations

import json
import math
import os
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import oracle
from .harness import Tracer, median, nproc, python_worker_warmup

TIMEOUT_MS = 105_000  # EngineConfig.timeout_s: between the 30 s normal and 180 s delayed delivery
N_MESSAGES = 1600
# the log is cut to its first N_EVENTS events in event time, so every
# seed replays the same amount (a whole log's length varies by ~6 %)
N_EVENTS = 5_000
N_FILES = 2
SETUP_REPS = 3
EVENT_SCHEMA = pa.schema(
    [
        ("message_id", pa.string()),
        ("status", pa.string()),
        ("phone_number", pa.int64()),
        ("carrier", pa.string()),
        ("timestamp", pa.int64()),
    ]
)
TRIGGER_KEYS = {
    "trigger.add_batch_ms": "addBatch",
    "trigger.query_planning_ms": "queryPlanning",
    "trigger.get_batch_ms": "getBatch",
    "trigger.wal_commit_ms": "walCommit",
    "trigger.commit_offsets_ms": "commitOffsets",
}
STATE_SUMS = {
    "state.rows_updated": "numRowsUpdated",
    "state.rows_removed": "numRowsRemoved",
    "state.update_ms": "allUpdatesTimeMs",
    "state.removal_ms": "allRemovalsTimeMs",
    "state.commit_ms": "commitTimeMs",
}


def _write_files(table: pa.Table, bounds: list[int], path: str) -> None:
    """One parquet file per micro-batch, mtimes ascending so the file
    source replays them in event-time order."""
    os.makedirs(path)
    for i in range(len(bounds) - 1):
        f = os.path.join(path, f"batch-{i:04d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _ms(iso: str) -> int:
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000)


def _data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p["numInputRows"] > 0]


def final_watermark(progress: list[dict]) -> int:
    wm = [_ms(w) for w in (p.get("eventTime", {}).get("watermark") for p in progress) if w]
    return max(wm, default=0)


def trigger_layers(progress: list[dict]) -> dict[str, float]:
    """Micro-batch driver and state-store figures of one replay, from its
    StreamingQueryProgress list."""
    data = _data_batches(progress)
    out = {"trigger.batches": float(len(progress))}
    for name, key in TRIGGER_KEYS.items():
        out[name] = median(p["durationMs"].get(key, 0) for p in data)
    ops = [p.get("stateOperators", []) for p in progress]
    out["state.rows_peak"] = float(max((sum(o["numRowsTotal"] for o in b) for b in ops), default=0))
    out["state.memory_bytes_peak"] = float(
        max((sum(o["memoryUsedBytes"] for o in b) for b in ops), default=0)
    )
    for name, key in STATE_SUMS.items():
        out[name] = float(sum(o.get(key, 0) for b in ops for o in b))
    out["state.partitions"] = float(
        max((o.get("numShufflePartitions", 0) for b in ops for o in b), default=0)
    )
    return out


def generate_log(spark, seed: int):
    """The first N_EVENTS events of the seeded message-event log, in
    event-time order."""
    from banking_streamprocessing_demos_spark.config import GeneratorConfig
    from banking_streamprocessing_demos_spark.sources.generator import generate_events

    cfg = GeneratorConfig(n_messages=N_MESSAGES, seed=f"perfbench-{seed}")
    pdf = generate_events(spark, cfg).toPandas()
    pdf = pdf.sort_values(["timestamp", "message_id", "status"], kind="stable")
    return pdf.head(N_EVENTS).reset_index(drop=True)


def file_bounds(n_events: int) -> list[int]:
    """Row offsets splitting the log into N_FILES equal micro-batches."""
    return [int(b) for b in np.linspace(0, n_events, N_FILES + 1)]


def wire_join_pass(spark, seed: int, work: str, tracer: Tracer) -> tuple[dict, list[str]]:
    """The Avro-wire -> join-variant path over the detector's log, replayed
    once and traced.  Returns the ``avro_wire.*`` and ``join.*`` layers and
    any output problems."""
    wire = WireJoinReplay(spark, seed, os.path.join(work, "wire-pass"), tracer)
    os.makedirs(wire.work)
    wire.events = generate_log(spark, seed)
    wire.bounds = file_bounds(len(wire.events))
    wire.prepare()
    wire.oracle()
    res = wire.measure(0, traced=True)
    layers = {k: v for k, v in wire.layers.items() if k.startswith(("avro_wire.", "join."))}
    layers["join.events_per_s"] = res["e2e"]["events_per_s"]
    layers["join.batch_p50_ms"] = res["e2e"]["op_p50_ms"]
    return layers, res["problems"]


class Replay:
    """One replay workload.  Subclasses supply the input encoding, the
    streaming plan with its sink, and the oracle."""

    name = ""

    def __init__(self, spark, seed: int, work: str, tracer: Tracer) -> None:
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.layers: dict[str, float] = {}
        self.counts: dict[str, object] = {}
        self.problems: list[str] = []
        self.replays = 0

    # --- set-up -------------------------------------------------------------

    def setup(self) -> list[float]:
        """Start the Python workers, generate the log SETUP_REPS times and
        write the replay files once.  Returns the set-up seconds of each
        repetition, the warm-up included."""
        with self.tracer.span("perfbench.warmup") as warm:
            python_worker_warmup(self.spark, nproc())
        gen = []
        for _ in range(SETUP_REPS):
            with self.tracer.span("sources.generator.generate_events") as s:
                self.events = generate_log(self.spark, self.seed)
            gen.append(s.seconds)
        self.bounds = file_bounds(len(self.events))
        with self.tracer.span("perfbench.prepare") as w:
            self.prepare()
        self.layers["generator.events"] = float(len(self.events))
        self.layers["generator.s"] = median(gen)
        self.counts["generator.events"] = len(self.events)
        self.counts["input_digest"] = oracle.frames_digest({"events": self.events})
        return [warm.seconds + g + w.seconds for g in gen]

    def prepare(self) -> None:
        table = pa.Table.from_pandas(self.events, schema=EVENT_SCHEMA, preserve_index=False)
        _write_files(table, self.bounds, os.path.join(self.work, "events"))
        _write_files(table, self.bounds[:2], os.path.join(self.work, "events-local1"))

    # --- measurement --------------------------------------------------------

    def measure(self, seconds: float, traced: bool) -> dict:
        """Replay until ``seconds`` are used (at least once)."""
        batches, walls, problems, attempted, failed = [], [], [], 0, 0
        t_end = time.perf_counter() + seconds
        while True:
            tag = f"{'t' if traced else 'u'}{self.replays}"
            self.replays += 1
            with self.tracer.span(f"{self.name}.query", run_id=tag) as qs:
                q, sink = self.start(tag, traced)
                q.awaitTermination(170)
            if q.isActive:
                q.stop()
                raise TimeoutError(f"{self.name} replay did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress = [json.loads(p.json) for p in q.recentProgress]
            self._progress_spans(progress, qs.id, tag)
            data = _data_batches(progress)
            batches.extend(p["durationMs"]["triggerExecution"] for p in data)
            walls.append(qs.seconds)
            bad = self.verify(sink, progress)
            attempted += len(data)
            if bad:
                failed += len(data)
                problems.extend(bad)
            layers = trigger_layers(progress)
            self.repeat("state.rows_peak", layers["state.rows_peak"])
            if traced:
                self.layers.update(layers)
                self.traced_layers(sink, progress)
            if time.perf_counter() >= t_end:
                break
        wall = sum(walls)
        return {
            "e2e": {
                "events_per_s": len(self.events) * len(walls) / wall,
                "ops_per_s": len(batches) / wall,
                "op_p50_ms": median(batches),
            },
            "attempted": attempted,
            "failed": failed,
            "problems": problems,
        }

    def repeat(self, key: str, value) -> None:
        """Record a count that must be identical on every replay of one seed."""
        if self.counts.setdefault(key, value) != value:
            self.problems.append(f"{key} changed between repetitions: {self.counts[key]} != {value}")

    def _progress_spans(self, progress: list[dict], parent: int | None, run_id: str) -> None:
        if not self.tracer.enabled:
            return
        for p in progress:
            start = _ms(p["timestamp"]) / 1000.0
            end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
            self.tracer.add(f"{self.name}.micro_batch", start, end, parent, run_id)


class DetectorReplay(Replay):
    name = "detector_replay"

    def start(self, tag: str, traced: bool, events_dir: str = "events"):
        from banking_streamprocessing_demos_spark.streaming.detector import detect_undelivered
        from banking_streamprocessing_demos_spark.streaming.jobs import (
            read_event_stream_from_files,
            run_detector_pipeline,
        )

        stream = read_event_stream_from_files(
            self.spark, os.path.join(self.work, events_dir), max_files_per_trigger=1
        )
        detected = self.timed_plan(stream) if traced else detect_undelivered(stream, TIMEOUT_MS)
        sink = {
            "alerts": os.path.join(self.work, f"alerts-{tag}"),
            "summary": os.path.join(self.work, f"summary-{tag}"),
        }
        q = run_detector_pipeline(
            detected, sink["alerts"], sink["summary"], os.path.join(self.work, f"ckpt-{tag}")
        )
        return q, sink

    def timed_plan(self, stream):
        """``detect_undelivered`` rebuilt from its public pieces with a
        timing wrapper around the per-key update function.  The counters
        travel back from the Python workers as accumulators."""
        from pyspark.sql.streaming.state import GroupStateTimeout

        from banking_streamprocessing_demos_spark.streaming.detector import (
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            make_detector_fn,
        )
        from banking_streamprocessing_demos_spark.streaming.jobs import with_event_time

        sc = self.spark.sparkContext
        calls, timers, busy_s, rows_out = (
            sc.accumulator(0),
            sc.accumulator(0),
            sc.accumulator(0.0),
            sc.accumulator(0),
        )
        self.acc = {
            "detector.update_calls": calls,
            "detector.timer_calls": timers,
            "detector.update_s": busy_s,
            "detector.rows_out": rows_out,
        }
        fn = make_detector_fn(TIMEOUT_MS)

        def update(key, pdfs, state):
            timed_out = state.hasTimedOut
            it = fn(key, pdfs, state)
            busy = 0.0
            n = 0
            while True:
                t = time.perf_counter()
                try:
                    out = next(it)
                except StopIteration:
                    busy += time.perf_counter() - t
                    break
                busy += time.perf_counter() - t
                n += len(out)
                yield out
            calls.add(1)
            timers.add(int(timed_out))
            busy_s.add(busy)
            rows_out.add(n)

        return (
            with_event_time(stream, "30 seconds")
            .groupBy("message_id")
            .applyInPandasWithState(
                update,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    def oracle(self) -> None:
        from pyspark.sql import functions as F

        from banking_streamprocessing_demos_spark.operators.snapshot import (
            messages_snapshot,
            timeout_alerts_batch,
        )

        ev = self.spark.read.parquet(os.path.join(self.work, "events"))
        self.batch_alerts = timeout_alerts_batch(ev, TIMEOUT_MS).toPandas()
        self.delivered_in_time = (
            messages_snapshot(ev)
            .filter(
                F.col("delivered_time").isNotNull()
                & (F.col("delivered_time") - F.col("sent_time") <= TIMEOUT_MS)
            )
            .count()
        )
        self.counts["oracle_digest"] = oracle.digest(
            list(self.batch_alerts.itertuples(index=False, name=None)), list(self.batch_alerts.columns)
        )

    def verify(self, sink, progress) -> list[str]:
        alerts = (
            pq.read_table(sink["alerts"]).column("message_id").to_pylist()
            if os.path.isdir(sink["alerts"])
            else []
        )
        summary = pq.read_table(sink["summary"]).to_pandas()
        kinds = {k: int(v) for k, v in summary.groupby("kind")["cnt"].sum().items()}
        expected = oracle.detector_expectation(self.batch_alerts, final_watermark(progress))
        return oracle.check_detector(alerts, kinds, expected, self.delivered_in_time)

    def traced_layers(self, sink, progress) -> None:
        n1, b1 = _dir_files(sink["alerts"])
        n2, b2 = _dir_files(sink["summary"])
        self.layers["sink.files_written"] = float(n1 + n2)
        self.layers["sink.bytes_written"] = float(b1 + b2)
        for key, acc in self.acc.items():
            self.layers[key] = float(acc.value)
        self.repeat("detector.update_calls", self.layers["detector.update_calls"])

    def local1_events_per_s(self, spark) -> float:
        """The single-threaded baseline: the first micro-batch file of the
        log replayed through the same plan on ``spark``, a ``local[1]``
        session."""
        self.spark = spark
        python_worker_warmup(spark, 1)
        t = time.perf_counter()
        q, _ = self.start("local1", False, events_dir="events-local1")
        q.awaitTermination(170)
        if q.isActive:
            q.stop()
            raise TimeoutError("local[1] replay did not finish")
        return self.bounds[1] / (time.perf_counter() - t)


class WireJoinReplay(Replay):
    name = "wire_join_replay"

    def prepare(self) -> None:
        from banking_streamprocessing_demos_spark.sources.avro_wire import to_wire

        with self.tracer.span("sources.avro_wire.to_wire") as s:
            wire = to_wire(self.spark.createDataFrame(self.events)).toPandas()
        self.layers["avro_wire.encode_s"] = s.seconds
        _write_files(pa.Table.from_pandas(wire, preserve_index=False), self.bounds, os.path.join(self.work, "wire"))
        sent = self.events[self.events["status"] == "sent"].groupby("message_id")["timestamp"]
        span_ms = int((sent.max() - sent.min()).max())
        # the join variant dedups heartbeats only inside its watermark
        # delay, so the delay must cover the longest heartbeat span
        self.watermark_s = math.ceil(span_ms / 1000) + 1

    def _wire_stream(self):
        from banking_streamprocessing_demos_spark.sources.avro_wire import WIRE_SCHEMA

        return (
            self.spark.readStream.schema(WIRE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.work, "wire"))
        )

    def start(self, tag: str, traced: bool):
        from banking_streamprocessing_demos_spark.sources.avro_wire import from_wire
        from banking_streamprocessing_demos_spark.streaming.detector_join import (
            detect_undelivered_join,
        )

        out = detect_undelivered_join(
            from_wire(self._wire_stream()), TIMEOUT_MS, watermark_delay=f"{self.watermark_s} seconds"
        )
        name = f"wire_join_{tag}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.work, f"ckpt-{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        return q, name

    def _decoded_batch(self):
        from banking_streamprocessing_demos_spark.sources.avro_wire import WIRE_SCHEMA, from_wire

        return from_wire(self.spark.read.schema(WIRE_SCHEMA).parquet(os.path.join(self.work, "wire")))

    def oracle(self) -> None:
        from banking_streamprocessing_demos_spark.streaming.detector_join import (
            detect_undelivered_join,
        )

        self.batch = detect_undelivered_join(self._decoded_batch(), TIMEOUT_MS).toPandas()
        self.counts["oracle_digest"] = oracle.digest(
            list(self.batch.itertuples(index=False, name=None)), list(self.batch.columns)
        )

    def verify(self, sink, progress) -> list[str]:
        got = self.spark.table(sink).toPandas()
        self.spark.catalog.dropTempView(sink)
        return oracle.check_join(got, self.batch, final_watermark(progress), TIMEOUT_MS)

    def traced_layers(self, sink, progress) -> None:
        layers = trigger_layers(progress)
        for k in ("state.rows_peak", "state.memory_bytes_peak", "state.commit_ms"):
            self.layers["join." + k] = layers[k]
        rows_in = sum(p["numInputRows"] for p in progress)
        self.layers["avro_wire.decoded_rows_per_event"] = rows_in / len(self.events)
        with self.tracer.span("sources.avro_wire.from_wire") as s:
            self._decoded_batch().write.format("noop").mode("overwrite").save()
        self.layers["avro_wire.decode_s"] = s.seconds
