"""ST9 monitoring rollups, S5 dry-run, and the S4 rate-source generator."""

from __future__ import annotations

import ast
import pathlib
import tempfile
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from banking_streamprocessing_demos_spark.config import GeneratorConfig
from banking_streamprocessing_demos_spark.sources.generator import generate_events
from banking_streamprocessing_demos_spark.sources.rate_stream import message_rate_stream
from banking_streamprocessing_demos_spark.streaming import jobs
from banking_streamprocessing_demos_spark.streaming.jobs import (
    carrier_counts,
    console_dry_run,
    phone_sessions,
    finish,
    read_event_stream_from_files,
    run_to_memory,
    status_counts,
)

CFG = GeneratorConfig(n_phones=30, n_messages=80, seed="jobs", stagger_ms=500)


def test_status_counts_batch_equals_stream(spark, tmp_path):
    """The windowed monitoring agg must produce identical rows run as a
    batch plan or as a streaming query over the same data (Structured
    Streaming's unified-semantics promise)."""
    events = generate_events(spark, CFG)
    events.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "ev"))

    batch = status_counts(events).collect()
    stream = read_event_stream_from_files(spark, str(tmp_path / "ev"))
    streamed = run_to_memory(status_counts(stream)).collect()
    # append mode only emits windows the final watermark closed
    # (watermark = max event time - 1 min; window length 30 s)
    max_ms = events.agg(F.max("timestamp")).first()[0]
    closed = max_ms - 60_000
    batch_closed = [tuple(r) for r in batch if r.window_start_ms + 30_000 <= closed]
    assert sorted(batch_closed) == sorted(map(tuple, streamed))
    assert batch_closed, "fixture must close at least one window"


def test_carrier_counts_totals(spark):
    events = generate_events(spark, CFG)
    rows = carrier_counts(events).collect()
    assert sum(r.cnt for r in rows) == events.count()
    assert {r.carrier for r in rows} <= {"verizon", "att", "t-mobile"}


def test_console_dry_run_format(spark):
    """S5 (py:740-756): `[HH:MM:SS] STATUS: phone (carrier)`."""
    events = generate_events(spark, CFG)
    line = console_dry_run(events).first().line
    import re

    assert re.fullmatch(r"\[\d{2}:\d{2}:\d{2}\] (SENT|DELIVERED): \d+ \([a-z-]+\)", line), line


def test_dedup_within_watermark(spark, tmp_path):
    from banking_streamprocessing_demos_spark.streaming.jobs import dedup_within_watermark

    events = generate_events(spark, CFG)  # contains injected duplicates
    events.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "ev"))
    stream = read_event_stream_from_files(spark, str(tmp_path / "ev"))
    out = run_to_memory(dedup_within_watermark(stream))
    distinct_events = events.dropDuplicates(["message_id", "status", "timestamp"]).count()
    assert out.count() == distinct_events
    assert out.groupBy("message_id", "status", "timestamp").count().filter("count > 1").count() == 0


def test_foreachbatch_pipeline(spark, tmp_path):
    from banking_streamprocessing_demos_spark.streaming.detector import detect_undelivered
    from banking_streamprocessing_demos_spark.streaming.jobs import run_detector_pipeline

    events = generate_events(spark, CFG)
    events.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "ev"))
    stream = read_event_stream_from_files(spark, str(tmp_path / "ev"))
    detected = detect_undelivered(stream, timeout_ms=105_000, watermark_delay="10 seconds")
    q = run_detector_pipeline(
        detected,
        str(tmp_path / "alerts"),
        str(tmp_path / "summary"),
        str(tmp_path / "ckpt"),
    )
    finish(q)
    alerts = spark.read.parquet(str(tmp_path / "alerts"))
    summary = spark.read.parquet(str(tmp_path / "summary"))
    assert alerts.filter("kind <> 'alert'").count() == 0
    # the summary's alert total equals the alert sink's row count
    total = summary.filter("kind = 'alert'").agg(F.sum("cnt")).first()[0]
    assert total == alerts.count() > 0


def test_rate_stream_produces_lifecycle(spark, tmp_path):
    cfg = GeneratorConfig(seed="rate-test")
    stream = message_rate_stream(
        spark, cfg, rows_per_second=500, max_forks=50, ticks_per_message=5, delivery_delay_ticks=1
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_test_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            n = spark.table("rate_test_out").count()
            if n >= 500:
                break
            time.sleep(1)
    finally:
        q.stop()
    out = spark.table("rate_test_out")
    assert out.count() >= 500
    statuses = {r.status for r in out.select("status").distinct().collect()}
    assert statuses == {"sent", "delivered"}
    # deterministic classification: same message_id never delivers twice
    dupes = (
        out.filter(F.col("status") == "delivered")
        .groupBy("message_id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dupes == 0


def test_phone_sessions_batch_equals_stream(spark, tmp_path):
    """Native session_window sessionization must produce identical closed
    sessions run as a batch plan or as a streaming query (unified
    semantics), with one emission per closed session in append mode."""
    events = generate_events(spark, CFG)
    events.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "sev"))

    # gap below the 30 s heartbeat cadence so undelivered chains split
    # into per-heartbeat sessions (45 s default would merge every phone
    # into one unbroken session on this fixture)
    batch = phone_sessions(events, gap="25 seconds").collect()
    stream = read_event_stream_from_files(spark, str(tmp_path / "sev"))
    streamed = run_to_memory(phone_sessions(stream, gap="25 seconds")).collect()

    # append mode emits only sessions the final watermark closed
    max_ms = events.agg(F.max("timestamp")).first()[0]
    closed = max_ms - 60_000
    batch_closed = [tuple(r) for r in batch if r.session_end_ms <= closed]
    assert sorted(batch_closed) == sorted(map(tuple, streamed))
    assert batch_closed, "fixture must close at least one session"
    # sessions for one phone never overlap and respect the gap
    by_phone = {}
    for r in batch:
        by_phone.setdefault(r.phone_number, []).append(r)
    assert any(len(v) > 1 for v in by_phone.values()), "gap must split sessions"
    for rows in by_phone.values():
        rows.sort(key=lambda r: r.session_start_ms)
        for a, b in zip(rows, rows[1:]):
            assert a.session_end_ms <= b.session_start_ms


def test_phone_sessions_gap_boundary(spark):
    """Exact-boundary semantics: session_window MERGES an event landing
    precisely one gap after its predecessor (a session splits only when
    the difference is strictly GREATER than the gap).  This test exists
    because random µs-precision data never hits the boundary, so oracle
    parity alone cannot distinguish > from >= — and the w5 oracle
    encodes the same strict-> rule this test pins."""
    gap_ms = 45_000
    rows = [
        # phone 1: second event at gap-1 ms -> one session
        (1_000, 0), (1_000, gap_ms - 1),
        # phone 2: second event exactly at gap -> still ONE session
        (2_000, 0), (2_000, gap_ms),
        # phone 3: second event at gap+1 ms -> TWO sessions
        (3_000, 0), (3_000, gap_ms + 1),
    ]
    events = spark.createDataFrame(
        [(p, t) for p, t in rows], "phone_number long, timestamp long"
    )
    got = {
        (r.phone_number, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in phone_sessions(events, gap="45 seconds").collect()
    }
    assert got == {
        (1_000, 0, (gap_ms - 1) + gap_ms, 2),
        (2_000, 0, 2 * gap_ms, 2),
        (3_000, 0, gap_ms, 1),
        (3_000, gap_ms + 1, 2 * gap_ms + 1, 1),
    }


def test_streaming_doc_dedup_batch_equals_stream(spark, tmp_path):
    """streaming_doc_dedup must keep exactly one document per content
    hash, the same set the batch twin keeps (first by ingest_ts/doc_id:
    the replay file is written in that order, so stream arrival order
    matches the batch winner rule), and pass distinct texts through."""
    from banking_streamprocessing_demos_spark.streaming.jobs import streaming_doc_dedup

    rows = [
        (0, "alpha beta gamma", "2024-01-01 00:00:00"),
        (1, "alpha beta gamma", "2024-01-01 00:00:10"),   # dup of 0
        (2, "delta epsilon", "2024-01-01 00:00:20"),
        (3, "alpha beta gamma", "2024-01-01 00:00:30"),   # dup of 0
        (4, "zeta eta theta", "2024-01-01 00:00:40"),
        (5, "delta epsilon", "2024-01-01 00:00:50"),      # dup of 2
    ]
    batch = spark.createDataFrame(
        rows, "doc_id long, text string, ingest_ts string"
    ).withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))

    kept_batch = {r.doc_id for r in streaming_doc_dedup(batch).collect()}
    assert kept_batch == {0, 2, 4}

    path = str(tmp_path / "docs")
    batch.orderBy("ingest_ts").coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(
        "doc_id long, text string, ingest_ts timestamp"
    ).parquet(path)
    kept_stream = {r.doc_id for r in run_to_memory(streaming_doc_dedup(stream)).collect()}
    assert kept_stream == kept_batch


def test_streaming_hll_batch_equals_stream(spark, tmp_path):
    """Windowed HLL: the chained stateful aggregation (register max per
    (window, bucket) -> per-window fold) must emit the identical
    estimates batch or stream, and every closed-window estimate must be
    within the m=512 error bound of the exact windowed distinct."""
    from banking_streamprocessing_demos_spark.streaming.jobs import streaming_hll_distinct

    events = generate_events(spark, CFG)
    events.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "ev"))

    batch = {r.window_start_ms: r for r in streaming_hll_distinct(events).collect()}
    stream = read_event_stream_from_files(spark, str(tmp_path / "ev"))
    streamed = {
        r.window_start_ms: r for r in run_to_memory(streaming_hll_distinct(stream)).collect()
    }

    max_ms = events.agg(F.max("timestamp")).first()[0]
    closed = max_ms - 30_000
    batch_closed = {
        k: (v.n_filled, v.est_distinct)
        for k, v in batch.items()
        if k + 60_000 <= closed
    }
    assert batch_closed, "fixture must close at least one window"
    assert batch_closed == {
        k: (v.n_filled, v.est_distinct) for k, v in streamed.items() if k in batch_closed
    }
    assert set(batch_closed) <= set(streamed)

    exact = {
        r.ws: r.n
        for r in events.withColumn("event_time", F.timestamp_millis("timestamp"))
        .groupBy(F.window("event_time", "1 minute").alias("window"))
        .agg(F.count_distinct("phone_number").alias("n"))
        .select(F.unix_millis("window.start").alias("ws"), "n")
        .collect()
    }
    for ws, (_, est) in batch_closed.items():
        assert abs(est - exact[ws]) / exact[ws] < 0.14, (ws, est, exact[ws])


def _minhash_corpus(spark):
    """Planted near-dup corpus: 3 unique docs, an exact-dup pair, a
    one-word-perturbed near-dup pair, all >= NGRAM_N words.  ingest
    order == doc_id order (the equivalence precondition)."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    pert = "the quick brown fox jumps over the lazy cat near the river bank today"
    rows = [
        (0, base, "2024-01-01 00:00:00"),
        (1, "completely different words about spark structured streaming state stores", "2024-01-01 00:00:05"),
        (2, base, "2024-01-01 00:00:10"),          # exact dup of 0
        (3, pert, "2024-01-01 00:00:15"),          # near dup of 0 (1 word changed)
        (4, "unrelated third document mentioning parquet files and watermarks only", "2024-01-01 00:00:20"),
        (5, "a fifth singleton document with its own vocabulary entirely disjoint", "2024-01-01 00:00:25"),
        # watermark closer: far-future unique doc so the first window's
        # agg rows emit in append mode (its own window never closes)
        (99, "late horizon closer document pushing the event time watermark forward", "2024-01-01 00:10:00"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, ingest_ts string"
    ).withColumn("ingest_ts", F.col("ingest_ts").cast("timestamp"))


def _replay_one_doc_per_batch(spark, docs_pdf, path):
    """One parquet file per doc, mtimes ascending: replay order ==
    (ingest_ts, doc_id) order, one micro-batch each — band-bucket
    ownership ties can never break on intra-batch arrival order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("ingest_ts", pa.timestamp("us"))]
    )
    for i, row in enumerate(docs_pdf.sort_values(["ingest_ts", "doc_id"]).itertuples()):
        fname = os.path.join(path, f"doc-{i:04d}.parquet")
        pdf = pd.DataFrame(
            [{"doc_id": row.doc_id, "text": row.text, "ingest_ts": row.ingest_ts}]
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), fname)
        os.utime(fname, (1_700_000_000 + i, 1_700_000_000 + i))
    return spark.readStream.schema("doc_id long, text string, ingest_ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(path)


def test_streaming_minhash_dedup_batch_equals_stream(spark, tmp_path):
    """The streaming MinHash-LSH ingest dedup must keep exactly the
    docs its batch twin keeps (replay in (ingest_ts, doc_id) order, one
    doc per micro-batch), drop exact and planted near-dups, and keep
    all unique docs."""
    from banking_streamprocessing_demos_spark.streaming.jobs import streaming_minhash_dedup

    docs = _minhash_corpus(spark)
    kept_batch = {r.doc_id for r in streaming_minhash_dedup(docs).collect()}
    assert 0 in kept_batch and {1, 4, 5} <= kept_batch   # uniques kept
    assert 2 not in kept_batch                            # exact dup dropped
    assert 3 not in kept_batch                            # near dup dropped

    stream = _replay_one_doc_per_batch(spark, docs.toPandas(), str(tmp_path / "mh"))
    kept_stream = {r.doc_id for r in run_to_memory(streaming_minhash_dedup(stream)).collect()}
    # doc 99's own window never closes (nothing later advances the
    # watermark past it) -- compare the closed first window only
    assert kept_stream == kept_batch - {99}


def test_streaming_minhash_dedup_vs_batch_lsh(spark, tmp_path):
    """Equivalence vs the batch dedup_minhash_lsh operator on the same
    corpus: every VERIFIED near-dup pair's later member must be
    suppressed by the ingest-time dedup (the streaming op is the
    candidate filter — strictly higher recall than the verified set)."""
    from banking_streamprocessing_demos_spark.operators.dedup import dedup_minhash
    from banking_streamprocessing_demos_spark.streaming.jobs import streaming_minhash_dedup

    docs = _minhash_corpus(spark)
    sf_dir = str(tmp_path / "corpus")
    (
        docs.select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.lit("test").alias("source"),
            F.length("text").alias("n_chars"),
        ).write.parquet(sf_dir + "/documents.parquet")
    )
    pairs = dedup_minhash(spark, sf_dir).collect()
    assert pairs, "planted corpus must produce at least one verified pair"
    kept = {r.doc_id for r in streaming_minhash_dedup(docs).collect()}
    for p in pairs:
        later = max(p.doc_a, p.doc_b)   # ingest order == doc_id order
        assert later not in kept, f"verified near-dup {later} not suppressed at ingest"


def test_streaming_minhash_dedup_bounded_state(spark, tmp_path):
    """State must plateau at the watermark horizon, not grow with the
    stream: 24 unique docs spaced 1 min apart under a 2 min delay keep
    only ~horizon docs' band keys + open windows in state."""
    from banking_streamprocessing_demos_spark.streaming.jobs import streaming_minhash_dedup

    rows = [
        (
            i,
            " ".join(f"w{i}x{j} tok{i} filler{j}" for j in range(6)),
            pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
        )
        for i in range(24)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ingest_ts"])
    stream = _replay_one_doc_per_batch(spark, pdf, str(tmp_path / "mhstate"))
    out = streaming_minhash_dedup(stream, window="1 minute", delay="2 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("mh_state_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    finish(q)
    peaks = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    total_bands = 24 * 4
    assert peaks, "expected state operator metrics"
    # horizon holds ~3 docs of band keys + open windows; far below the
    # corpus-proportional total
    assert max(peaks) < total_bands / 2, (max(peaks), total_bands)
    kept = {r.doc_id for r in spark.table("mh_state_out").collect()}
    # final watermark = minute 23 - 2 min delay = minute 21: windows for
    # docs 21-23 never close; all unique docs whose window closed emitted
    assert kept == set(range(21)), kept


def test_streaming_cms_cells_batch_equals_stream(spark, tmp_path):
    """Windowed CMS cells must be identical batch or stream for every
    closed window, the state must stay within the 4096-cell grid per
    window, and probing the materialized sketch must upper-bound every
    key's true windowed count (CMS guarantee) while recovering the top
    heavy hitter exactly."""
    from banking_streamprocessing_demos_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        _cms_bucket_col,
    )
    from banking_streamprocessing_demos_spark.streaming.jobs import streaming_cms_cells

    events = generate_events(spark, CFG)
    events.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "cmsev"))

    batch = {
        (r.window_start_ms, r.r, r.bucket): r.c
        for r in streaming_cms_cells(events).collect()
    }
    stream = read_event_stream_from_files(spark, str(tmp_path / "cmsev"))
    streamed = {
        (r.window_start_ms, r.r, r.bucket): r.c
        for r in run_to_memory(streaming_cms_cells(stream)).collect()
    }
    max_ms = events.agg(F.max("timestamp")).first()[0]
    closed = max_ms - 30_000
    batch_closed = {k: v for k, v in batch.items() if k[0] + 60_000 <= closed}
    assert batch_closed, "fixture must close at least one window"
    assert batch_closed == {k: v for k, v in streamed.items() if k in batch_closed}
    # grid bound: cells per window never exceed d*w
    per_window = {}
    for (ws, _, _), _c in streamed.items():
        per_window[ws] = per_window.get(ws, 0) + 1
    assert all(n <= CMS_D * CMS_W for n in per_window.values())

    # probe the sketch: est(key) = min over rows >= true windowed count
    exact = {
        (r.ws, r.phone_number): r.n
        for r in events.withColumn("event_time", F.timestamp_millis("timestamp"))
        .groupBy(
            F.window("event_time", "1 minute").alias("window"), "phone_number"
        )
        .agg(F.count("*").alias("n"))
        .select(F.unix_millis("window.start").alias("ws"), "phone_number", "n")
        .collect()
    }
    import pandas as _pd

    probe_rows = (
        spark.createDataFrame(
            _pd.DataFrame(
                [{"ws": ws, "k": k} for (ws, k) in exact if ws in per_window]
            )
        )
        .select("ws", "k", F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("r"))
        .withColumn("bucket", _cms_bucket_col(F.col("k"), F.col("r")))
        .collect()
    )
    est = {}
    for row in probe_rows:
        c = streamed.get((row.ws, row.r, row.bucket), 0)
        cur = est.get((row.ws, row.k))
        est[(row.ws, row.k)] = c if cur is None else min(cur, c)
    checked = 0
    for key_ws, true_n in exact.items():
        if key_ws in est:
            assert est[key_ws] >= true_n, (key_ws, est[key_ws], true_n)
            checked += 1
    assert checked > 0
    # the busiest (window, key) is recovered exactly when its cells are
    # collision-free (holds on this fixture's key cardinality vs w=1024)
    top_key = max((k for k in exact if k in est), key=lambda k: exact[k])
    assert est[top_key] == exact[top_key]


def test_streaming_heavy_hitters_serving(spark, tmp_path):
    """End-to-end sketch serving: stream maintains windowed CMS cells,
    foreachBatch probes candidates and publishes per-window top-k.
    Every published estimate must upper-bound the true windowed count
    and the true busiest key of each published window must appear at
    rank 1."""
    from banking_streamprocessing_demos_spark.streaming.jobs import (
        run_streaming_heavy_hitters,
    )

    events = generate_events(spark, CFG)
    path = str(tmp_path / "hh_ev")
    events.coalesce(2).write.mode("overwrite").parquet(path)
    q = run_streaming_heavy_hitters(
        spark,
        path,
        str(tmp_path / "hh_out"),
        str(tmp_path / "hh_ckpt"),
        topk=5,
    )
    finish(q)
    out = spark.read.parquet(str(tmp_path / "hh_out")).toPandas()
    assert not out.empty
    exact = {
        (r.ws, r.phone_number): r.n
        for r in events.withColumn("event_time", F.timestamp_millis("timestamp"))
        .groupBy(F.window("event_time", "1 minute").alias("window"), "phone_number")
        .agg(F.count("*").alias("n"))
        .select(F.unix_millis("window.start").alias("ws"), "phone_number", "n")
        .collect()
    }
    for row in out.itertuples():
        true_n = exact.get((row.window_start_ms, row.k), 0)
        assert row.est_count >= true_n, (row.window_start_ms, row.k)
    for ws in out["window_start_ms"].unique():
        best_true = max(
            (n, -k) for (w, k), n in exact.items() if w == ws
        )
        top_row = out[(out.window_start_ms == ws) & (out["rank"] == 1)].iloc[0]
        assert exact[(ws, top_row.k)] == best_true[0], (ws, top_row.k)


def test_reservoir_batching_invariance(spark, tmp_path):
    """The streaming weighted reservoir must produce the IDENTICAL
    k-row sample whether the corpus arrives as one micro-batch or
    many — top-k by a deterministic per-row key is a mergeable summary
    (top_k(top_k(A) ∪ B) = top_k(A ∪ B)), which is exactly what makes
    it safely restartable/driver-hashable.  Also pin that the result
    equals the plain batch top-k."""
    from banking_streamprocessing_demos_spark.streaming.jobs import (
        run_streaming_reservoir,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(5 + (i * 7) % 40))) for i in range(300)],
        "doc_id long, text string",
    )

    def run(n_files: int, tag: str, per_trigger: int) -> list:
        src = str(tmp_path / f"src-{tag}")
        docs.repartitionByRange(n_files, "doc_id").write.mode("overwrite").parquet(src)
        res = str(tmp_path / f"res-{tag}")
        q = run_streaming_reservoir(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(src),
            res,
            checkpoint=str(tmp_path / f"ckpt-{tag}"),
            k=50,
        )
        finish(q)
        return sorted(
            (r.doc_id, r.n_tokens, r.sample_key)
            for r in spark.read.parquet(res).collect()
        )

    one = run(1, "one", per_trigger=100)   # single batch
    many = run(6, "many", per_trigger=1)   # six batches, merge path
    assert one == many
    assert len(one) == 50
    # equals the batch top-k with the same key
    from banking_streamprocessing_demos_spark.functions.expressions import (
        det_hash_hex,
        hex4_to_int,
    )

    spaces = F.length(F.col("text")) - F.length(F.expr("replace(text, ' ', '')"))
    n_tokens = (spaces + 1).cast("long")
    u = hex4_to_int(det_hash_hex("doc_id", seed="wres")) / F.lit(65536.0)
    key = F.round(F.pow(u, F.lit(1.0) / n_tokens.cast("double")), 9)
    batch = sorted(
        (r.doc_id, r.n_tokens, r.sample_key)
        for r in docs.select(
            "doc_id", n_tokens.alias("n_tokens"), key.alias("sample_key")
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(50)
        .collect()
    )
    assert one == batch


def test_streaming_heavy_hitters_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch replayed after a sink
    write but before the checkpoint commit must rewrite its own
    batch_id partition, not append duplicates.  Simulated by running
    the whole query twice against the SAME output dir with a fresh
    checkpoint (every batch replays) — the published table must be
    row-for-row identical, and no (window, key) may appear twice."""
    from banking_streamprocessing_demos_spark.streaming.jobs import (
        run_streaming_heavy_hitters,
    )

    events = generate_events(spark, CFG)
    path = str(tmp_path / "hhr_ev")
    events.coalesce(2).write.mode("overwrite").parquet(path)
    out_path = str(tmp_path / "hhr_out")

    def run(ckpt: str):
        q = run_streaming_heavy_hitters(spark, path, out_path, str(tmp_path / ckpt), topk=5)
        finish(q)
        return sorted(
            map(
                tuple,
                spark.read.parquet(out_path)
                .select("window_start_ms", "k", "est_count", "rank")
                .collect(),
            )
        )

    first = run("ck1")
    second = run("ck2")  # full replay into the same sink
    assert first == second
    keys = [(w, k) for (w, k, _e, _r) in second]
    assert len(keys) == len(set(keys)), "duplicate (window, key) after replay"


def test_reservoir_replay_idempotent(spark, tmp_path):
    """At-least-once replay safety (round-4 advice): re-merging a batch
    whose docs are already in the reservoir must be a no-op — the merge
    is a SET union on doc_id, so a replayed batch can never seat the
    same document twice and evict a legitimate row.  Simulated by
    re-running the whole stream into the SAME reservoir dir with a
    fresh checkpoint (every batch replays), and by restarting after the
    last batch's commit entry is deleted (that batch replays against a
    reservoir that already holds its docs)."""
    from banking_streamprocessing_demos_spark.streaming.jobs import (
        run_streaming_reservoir,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(5 + (i * 7) % 40))) for i in range(300)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(src)
    res = str(tmp_path / "res")

    def run(ckpt: str) -> list:
        q = run_streaming_reservoir(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            res,
            checkpoint=str(tmp_path / ckpt),
            k=50,
        )
        finish(q)
        rows = spark.read.parquet(res).collect()
        ids = [r.doc_id for r in rows]
        assert len(ids) == len(set(ids)), "reservoir seated a doc_id twice"
        return sorted((r.doc_id, r.n_tokens, r.sample_key) for r in rows)

    first = run("ck1")
    second = run("ck2")  # full replay against the populated reservoir
    assert first == second
    commits = tmp_path / "ck2" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    assert last > 0
    for name in (str(last), f".{last}.crc"):  # the entry and its local-FS checksum
        (commits / name).unlink()
    assert run("ck2") == first  # batch ``last`` merges into itself


def test_streaming_gate_matches_batch_gate(spark):
    """The ingest-time quality gate must agree with the batch
    pipe_quality_gate verdict for every canonical document (the only
    difference by construction is the 'dup' reason, which streaming
    expresses as death at the dedup stage instead of a named reason)."""
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_quality_gate_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import pipe_quality_gate
    from tests.conftest import SF_SMALL

    streamed = {
        r.doc_id: (r.passed, r.fail_reasons, r.avg_logprob)
        for r in streaming_quality_gate_q(spark, SF_SMALL).collect()
    }
    batch = {
        r.doc_id: (r.passed, r.fail_reasons, r.avg_logprob, r.is_canonical)
        for r in pipe_quality_gate(spark, SF_SMALL).collect()
    }
    # streaming emits exactly the canonical docs
    assert set(streamed) == {d for d, v in batch.items() if v[3]}
    for doc_id, (s_pass, s_reasons, s_lp) in streamed.items():
        b_pass, b_reasons, b_lp, _ = batch[doc_id]
        assert s_pass == b_pass, (doc_id, s_reasons, b_reasons)
        assert s_lp == b_lp, (doc_id, s_lp, b_lp)
        assert s_reasons == b_reasons, (doc_id, s_reasons, b_reasons)


def test_streaming_pack_matches_batch_and_replays_idempotent(spark, tmp_path):
    """Ingest-time packing must lay out the identical global offsets as
    the corpus-wide batch op (arrival order == doc_id order in the
    harness), and a full replay into the same sink (fresh checkpoint,
    same batching) must be a row-for-row no-op — the carry is derived
    from immutable earlier-batch totals, never from the replayed
    batch's own writes."""
    from banking_streamprocessing_demos_spark.operators.packing import pack_sequences
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_pack_sequences_q,
    )
    from tests.conftest import SF_SMALL

    from banking_streamprocessing_demos_spark.sources.tables import load_table
    from banking_streamprocessing_demos_spark.streaming.jobs import run_streaming_pack

    batch = sorted(map(tuple, pack_sequences(spark, SF_SMALL).collect()))
    first = sorted(map(tuple, streaming_pack_sequences_q(spark, SF_SMALL).collect()))
    assert first == batch

    # true replay: same source files, same out/state dirs, fresh
    # checkpoint — every batch re-executes against the populated sink
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.filter((F.col("doc_id") % 3) == i).coalesce(1).write.mode("append").parquet(src)
    out_dir, state_dir = str(tmp_path / "out"), str(tmp_path / "state")

    def run(ckpt: str):
        q = run_streaming_pack(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out_dir,
            state_dir=state_dir,
            checkpoint=str(tmp_path / ckpt),
        )
        finish(q)
        return sorted(
            map(
                tuple,
                spark.read.parquet(out_dir)
                .select("doc_id", "n_tokens", "start_offset", "start_seq", "end_seq")
                .collect(),
            )
        )

    one = run("ck1")
    two = run("ck2")
    assert one == two
    ids = [r[0] for r in two]
    assert len(ids) == len(set(ids)), "replay duplicated a document row"


def test_streaming_curriculum_histogram_matches_batch(spark):
    """The ingest-time tier histogram (THREE chained stateful operators:
    dedup -> per-doc windowed gate verdict -> per-tier windowed fold)
    must equal the batch gate's canonical+passed docs bucketed by the
    batch curriculum tier rule per ingest minute."""
    from collections import defaultdict

    from banking_streamprocessing_demos_spark.operators.packing import CURR_T1, CURR_T2
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        INGEST_BASE_MS,
        streaming_curriculum_histogram_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import pipe_quality_gate
    from tests.conftest import SF_SMALL

    expected: dict = defaultdict(lambda: [0, 0])
    for r in pipe_quality_gate(spark, SF_SMALL).collect():
        if not (r.is_canonical and r.passed):
            continue
        tier = 0 if r.avg_logprob >= CURR_T1 else (1 if r.avg_logprob >= CURR_T2 else 2)
        key = (INGEST_BASE_MS + (r.doc_id // 60) * 60000, tier)
        expected[key][0] += 1
        expected[key][1] += r.wc
    got = {
        (r.window_start_ms, r.tier): (r.n_docs, r.total_tokens)
        for r in streaming_curriculum_histogram_q(spark, SF_SMALL).collect()
    }
    assert got == {k: tuple(v) for k, v in expected.items()}


def test_streaming_boilerplate_strip_matches_batch(spark):
    """Ingest-time boilerplate removal must clean every document exactly
    as the batch op does (same frozen inventory, same segmentation, same
    reassembly) — the stream only adds the ingest window column."""
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_boilerplate_strip_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import (
        text_boilerplate_strip,
    )
    from tests.conftest import SF_SMALL

    streamed = {
        r.doc_id: (r.n_segments, r.n_removed, r.cleaned_text)
        for r in streaming_boilerplate_strip_q(spark, SF_SMALL).collect()
    }
    batch = {
        r.doc_id: (r.n_segments, r.n_removed, r.cleaned_text)
        for r in text_boilerplate_strip(spark, SF_SMALL).collect()
    }
    assert streamed == batch


def test_streaming_bpe_encode_matches_batch(spark):
    """Ingest-time token accounting must agree per document with the
    batch pipe_bpe_encode under the same fitted tokenizer — the stream
    only adds the ingest window column."""
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_bpe_encode_q,
    )
    from banking_streamprocessing_demos_spark.operators.text import pipe_bpe_encode
    from tests.conftest import SF_SMALL

    streamed = {
        r.doc_id: (r.n_words, r.n_tokens_bpe_fit)
        for r in streaming_bpe_encode_q(spark, SF_SMALL).collect()
    }
    batch = {
        r.doc_id: (r.n_words, r.n_tokens_bpe_fit)
        for r in pipe_bpe_encode(spark, SF_SMALL).collect()
    }
    assert streamed == batch


def test_streaming_keep_best_batch_equals_stream(spark, tmp_path):
    """Ingest-time representative maintenance: per (window, full-MinHash-
    signature) key the stream must emit exactly the batch argmax (best
    word count, lowest doc_id).  Exact dups share a signature (one rep,
    n_members=2); a one-word near-dup does NOT (full-signature collision
    needs all K slots equal) and represents itself — the documented
    strictness contrast with the banding dedup."""
    from banking_streamprocessing_demos_spark.streaming.jobs import streaming_keep_best

    docs = _minhash_corpus(spark)
    batch = {r.doc_id: r for r in streaming_keep_best(docs).collect()}
    assert set(batch) == {0, 1, 3, 4, 5, 99}
    assert batch[0].n_members == 2          # exact-dup pair (0,2) -> rep 0
    assert batch[3].n_members == 1          # near dup: own signature key
    sig_of = {r.doc_id: r.sig_key for r in batch.values()}
    assert sig_of[0] != sig_of[3]

    stream = _replay_one_doc_per_batch(spark, docs.toPandas(), str(tmp_path / "kb"))
    stream_rows = {r.doc_id: r for r in run_to_memory(streaming_keep_best(stream)).collect()}
    # doc 99's own window never closes; every closed window matches
    assert set(stream_rows) == set(batch) - {99}
    for d, r in stream_rows.items():
        b = batch[d]
        assert (r.window_start_ms, r.sig_key, r.word_count, r.n_members) == (
            b.window_start_ms, b.sig_key, b.word_count, b.n_members
        )


def _empty_temp_root(tmp_path, monkeypatch) -> pathlib.Path:
    """Point ``tempfile`` at a fresh empty dir and return it."""
    root = tmp_path / "temp_root"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def test_bounded_run_past_its_bound_is_stopped(spark, tmp_path, monkeypatch):
    """A bounded run still going at the wait bound is stopped and raises
    TimeoutError instead of handing back a partial table, and it leaves
    no query running in the session and nothing in the temp dir."""
    monkeypatch.setattr(jobs, "RUN_TIMEOUT_S", 1)
    root = _empty_temp_root(tmp_path, monkeypatch)
    with pytest.raises(TimeoutError), jobs.scratch() as tmp:
        spark.range(1).write.parquet(f"{tmp}/src")
        stream = spark.readStream.schema("id long").parquet(f"{tmp}/src")
        # the one micro-batch sleeps 60 s in an interruptible JVM call
        slow = stream.select(
            F.expr("reflect('java.lang.Thread', 'sleep', id + 60000)").alias("r")
        )
        run_to_memory(slow)
    assert spark.streams.active == []
    assert list(root.iterdir()) == []


def test_bounded_runs_leave_no_scratch_and_keep_their_result(spark, tmp_path, monkeypatch):
    """A registry twin's replay input, foreachBatch output, state and
    checkpoint are gone when it returns, and the DataFrame it returns
    still collects: a memory table (st1), an eager localCheckpoint of a
    foreachBatch output (reservoir, pack).  Its rows equal a fresh
    run's, and the session keeps no memory-table view."""
    from banking_streamprocessing_demos_spark.operators.message_domain import st1_streaming
    from banking_streamprocessing_demos_spark.operators.streaming_queries import (
        streaming_pack_sequences_q,
        streaming_reservoir_sample_q,
    )
    from tests.conftest import SF_SMALL

    root = _empty_temp_root(tmp_path, monkeypatch)
    for run in (st1_streaming, streaming_reservoir_sample_q, streaming_pack_sequences_q):
        out = run(spark, SF_SMALL)
        assert list(root.iterdir()) == [], run.__name__
        rows = sorted(map(tuple, out.collect()))
        assert rows, run.__name__
        assert rows == sorted(map(tuple, run(spark, SF_SMALL).collect())), run.__name__
    # run_to_memory drops its memory table's view once the run is done
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("run_")] == []


def _calls_outside_jobs():
    """(``module:line``, call node) for every call in a package module
    other than ``streaming/jobs.py``."""
    jobs_path = pathlib.Path(jobs.__file__).resolve()
    pkg = jobs_path.parent.parent
    for path in sorted(pkg.rglob("*.py")):
        if path != jobs_path:
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Call):
                    yield f"{path.relative_to(pkg)}:{node.lineno}", node


def test_only_jobs_waits_on_queries_or_overwrites_batches():
    """``streaming/jobs.py`` is the one package module that waits on a
    streaming query (``finish``) or writes a batch with dynamic
    partition overwrite (``_write_batch``): no other module calls
    ``awaitTermination`` or passes ``partitionOverwriteMode``."""
    found = []
    for where, node in _calls_outside_jobs():
        if isinstance(node.func, ast.Attribute) and node.func.attr == "awaitTermination":
            found.append(f"{where} awaitTermination")
        for arg in node.args:
            if isinstance(arg, ast.Constant) and "partitionOverwriteMode" in str(arg.value):
                found.append(f"{where} partitionOverwriteMode")
    assert not found, found


def test_only_jobs_makes_temp_files():
    """``jobs.scratch`` is the package's one temp dir: no other module
    calls ``tempfile``'s dir or file makers."""
    makers = {"mkdtemp", "mkstemp", "TemporaryDirectory", "NamedTemporaryFile"}
    found = [
        f"{where} {name}"
        for where, node in _calls_outside_jobs()
        if (name := getattr(node.func, "attr", getattr(node.func, "id", None))) in makers
    ]
    assert not found, found


def test_only_config_and_session_read_the_environment():
    """``config.py`` (the consumer's settings) and ``session.py`` (the
    Spark session's) are the package's only readers of ``os.environ``."""
    pkg = pathlib.Path(jobs.__file__).resolve().parent.parent
    found = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if str(path.relative_to(pkg)) not in {"config.py", "session.py"}
        for node in ast.walk(ast.parse(path.read_text()))
        if (isinstance(node, ast.Attribute) and node.attr in {"environ", "getenv"})
        or (isinstance(node, ast.alias) and node.name in {"environ", "getenv"})
    ]
    assert not found, found
