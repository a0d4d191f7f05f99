"""CLI demo — the engine's analog of the reference producer's UX
(``python phone_message_producer.py [--dry-run]``, py:923-984).

    python -m banking_streamprocessing_demos_spark.demo --dry-run
    python -m banking_streamprocessing_demos_spark.demo --live --seconds 30

``--dry-run`` (the reference's only test harness, S5 py:740-756):
generate a deterministic lifecycle fixture, print the event stream in
the reference's console format, run the detector over a file replay,
and print the alert/delivery summary plus the status() rollups
(ST9 py:674-697).

``--live``: run the rate-source generator and the stateful detector as
real streaming queries for N seconds, printing per-batch progress —
the closest Kafka-less equivalent of the production path.
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import time

from .config import GeneratorConfig, engine_config_from_env
from .session import get_spark, start_stream
from .sources.generator import generate_events
from .sources.rate_stream import message_rate_stream
from .streaming.detector import detect_undelivered
from .streaming.jobs import console_dry_run, read_event_stream_from_files


def dry_run(args: argparse.Namespace) -> None:
    spark = get_spark("demo-dry-run", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = GeneratorConfig(
        n_phones=args.phones, n_messages=args.messages, seed=args.seed
    )
    events = generate_events(spark, cfg).cache()

    print(f"== dry run: {args.messages} messages over {args.phones} phones ==")
    for r in console_dry_run(events.orderBy("timestamp").limit(args.show)).collect():
        print(r.line)
    print(f"... ({events.count()} events total)")

    # detector over a file replay (Kafka-less path)
    events_dir = tempfile.mkdtemp(prefix="demo-events-")
    ckpt = tempfile.mkdtemp(prefix="demo-ckpt-")
    events.coalesce(4).write.mode("overwrite").parquet(events_dir)
    ecfg = engine_config_from_env()
    timeout_ms = ecfg.timeout_s * 1000
    stream = read_event_stream_from_files(spark, events_dir)
    q = start_stream(
        detect_undelivered(stream, timeout_ms, watermark_delay=f"{ecfg.watermark_delay_s} seconds")
        .writeStream.format("memory")
        .queryName("demo_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
        spark,
    )
    q.awaitTermination(300)
    if q.isActive:
        q.stop()
        raise TimeoutError("demo detector replay did not finish within 300s")
    out = spark.table("demo_out").cache()

    print(f"\n== detector (timeout {ecfg.timeout_s}s) ==")
    for r in out.groupBy("kind").count().orderBy("kind").collect():
        print(f"  {r['kind']:>15}: {r['count']}")
    print("\n== sample alerts ==")
    out.filter("kind = 'alert'").orderBy("event_ms").limit(5).select(
        "message_id", "phone_number", "carrier", "first_sent_ms", "event_ms"
    ).show(truncate=False)

    # ST9 status() rollups (py:674-697)
    print("== status(): events by status / carrier ==")
    events.groupBy("status").count().orderBy("status").show()
    events.groupBy("carrier").count().orderBy("carrier").show()


def live(args: argparse.Namespace) -> None:
    spark = get_spark("demo-live", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = GeneratorConfig(seed=args.seed)
    stream = message_rate_stream(
        spark,
        cfg,
        rows_per_second=args.rate,
        max_forks=min(args.rate, 10_000),
        ticks_per_message=100,
        delivery_delay_ticks=20,
    )
    det = detect_undelivered(stream, timeout_ms=60_000, watermark_delay="5 seconds")
    ckpt = tempfile.mkdtemp(prefix="demo-live-ckpt-")
    q = start_stream(
        det.writeStream.format("memory")
        .queryName("demo_live_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt),
        spark,
    )
    print(f"== live: {args.rate} events/s for {args.seconds}s (Ctrl-C to stop) ==")
    deadline = time.time() + args.seconds
    try:
        while time.time() < deadline:
            time.sleep(5)
            p = q.lastProgress
            if p:
                print(
                    f"  batch {p['batchId']}: {p['numInputRows']} rows in "
                    f"{p['durationMs']['triggerExecution'] / 1000:.1f}s"
                )
    except KeyboardInterrupt:
        pass
    finally:
        q.stop()
    spark.table("demo_live_out").groupBy("kind").count().show()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="banking_streamprocessing_demos_spark.demo")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--dry-run", action="store_true", help="deterministic fixture → console + detector (default)")
    mode.add_argument("--live", action="store_true", help="rate-source stream through the detector")
    ap.add_argument("--messages", type=int, default=200)
    ap.add_argument("--phones", type=int, default=100)
    ap.add_argument("--seed", default="demo")
    ap.add_argument("--show", type=int, default=20, help="console lines to print in dry-run")
    ap.add_argument("--rate", type=int, default=10_000, help="events/s in live mode")
    ap.add_argument("--seconds", type=int, default=30, help="live-mode duration")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args(argv)
    if args.live:
        live(args)
    else:
        dry_run(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
