"""Streaming job wiring: sources, monitoring rollups (ST9), sinks
(S5 console dry-run; parquet via foreachBatch), and a file-replay
harness used by tests in place of Kafka.

The reference runs three daemon threads over shared dicts (ST8,
py:616-653); here each periodic dataflow is a streaming query with a
trigger — per-key serial state access in the detector resolves the
heartbeat-vs-delivery races for free (SURVEY §3.1 note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import MESSAGE_EVENT_SCHEMA
from ..session import start_stream


def read_event_stream_from_files(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source replay of a MESSAGE_EVENT_SCHEMA parquet directory —
    the Kafka-less test path (tests run Kafka-less per SURVEY §7 Phase 3).
    ``maxFilesPerTrigger`` is the backpressure knob (ST7 analog of
    maxOffsetsPerTrigger)."""
    reader = spark.readStream.schema(MESSAGE_EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def with_event_time(events: DataFrame, watermark_delay: str | None = "1 minute") -> DataFrame:
    """The ONE event-time preamble: derive ``event_time`` from the
    ms-epoch wire timestamp and (for streams) watermark it.  Every
    streaming job in the package goes through here so the derivation
    can never drift between sites."""
    with_time = events.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
    if with_time.isStreaming and watermark_delay is not None:
        with_time = with_time.withWatermark("event_time", watermark_delay)
    return with_time


def status_counts(events: DataFrame, window: str = "30 seconds") -> DataFrame:
    """ST9 (py:674-697): the status() monitoring snapshot as a windowed
    streaming aggregation — counts by status per tumbling window."""
    with_time = with_event_time(events)
    return (
        with_time.groupBy(F.window("event_time", window), "status")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
            "status",
            "cnt",
        )
    )


def carrier_counts(events: DataFrame, window: str = "30 seconds") -> DataFrame:
    """ST9 carrier breakdown (py:688-697)."""
    with_time = with_event_time(events)
    return (
        with_time.groupBy(F.window("event_time", window), "carrier")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
            "carrier",
            "cnt",
        )
    )


def phone_sessions(events: DataFrame, gap: str = "45 seconds") -> DataFrame:
    """Streaming sessionization with the NATIVE session_window operator:
    bursts of per-phone activity separated by ≥gap of silence — the
    streaming twin of the batch `w5_session_window` query.  The state
    store merges out-of-order events into open sessions until the
    watermark passes session end (append mode then emits the closed
    session exactly once).  Scale: state is one open session per active
    phone, partitioned by the group key — the same per-key state budget
    as the detector (ST1)."""
    with_time = with_event_time(events)
    return (
        with_time.groupBy(F.session_window("event_time", gap), "phone_number")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            F.unix_millis(F.col("session_window.end")).alias("session_end_ms"),
            "phone_number",
            "n_events",
        )
    )


def run_to_memory(df: DataFrame, name: str, timeout_s: int = 120) -> None:
    """Execute a streaming DataFrame to completion (availableNow) into an
    in-memory table ``name`` — the test sink."""
    q = start_stream(
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True),
        df.sparkSession,
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"streaming query {name} did not finish in {timeout_s}s")


def dedup_within_watermark(events: DataFrame, delay: str = "1 minute") -> DataFrame:
    """ST2 alternative to first-sent-min state: drop duplicate
    (message_id, status, timestamp) events inside the watermark window —
    Spark keeps the dedup keys in the state store only until the
    watermark passes them, so state is bounded (unlike a global
    dropDuplicates)."""
    with_time = with_event_time(events, delay)
    if with_time.isStreaming:
        return with_time.dropDuplicatesWithinWatermark(["message_id", "status", "timestamp"])
    return with_time.dropDuplicates(["message_id", "status", "timestamp"])


def run_detector_pipeline(
    detected: DataFrame,
    alerts_path: str,
    summary_path: str,
    checkpoint: str,
):
    """ST8 unified pipeline via foreachBatch: one streaming query fans a
    micro-batch into two sinks — alert rows to one parquet table, a
    per-kind summary to another.  foreachBatch is at-least-once (a crash
    between a sink write and the checkpoint commit replays the batch), so
    BOTH sinks partition by batch_id and dynamically overwrite their own
    partition: a replayed batch rewrites the same files instead of
    appending duplicates.  Replaces the reference's three shared-state
    daemon threads (py:616-653) with a single checkpointed query."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            (
                batch_df.filter(F.col("kind") == "alert")
                .withColumn("batch_id", F.lit(batch_id))
                # writer-scoped dynamic overwrite: a session-level conf
                # set here would silently change overwrite semantics for
                # every other write in the shared session
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(alerts_path)
            )
            (
                batch_df.groupBy("kind")
                .agg(F.count("*").alias("cnt"))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(summary_path)
            )
        finally:
            batch_df.unpersist()

    return start_stream(
        detected.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True),
        detected.sparkSession,
    )


def console_dry_run(events: DataFrame) -> DataFrame:
    """S5 (py:740-756): the dry-run console projection
    `[HH:MM:SS] STATUS: phone (carrier)` as a formatted column."""
    from ..functions.expressions import fmt_hhmmss_ms

    return events.select(
        F.concat(
            F.lit("["),
            fmt_hhmmss_ms(F.col("timestamp")),
            F.lit("] "),
            F.upper(F.col("status")),
            F.lit(": "),
            F.col("phone_number").cast("string"),
            F.lit(" ("),
            F.col("carrier"),
            F.lit(")"),
        ).alias("line")
    )


def streaming_doc_dedup(docs: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Streaming exact DOCUMENT dedup — the ingestion-time twin of the
    batch ``dedup_exact`` operator: drop every document whose content
    hash was already seen inside the watermark window.  Input schema:
    (doc_id, text, ingest_ts).  State = one md5 key per distinct
    document seen within the watermark horizon, evicted as the watermark
    passes — bounded regardless of stream length, which is the property
    a global dropDuplicates cannot give an unbounded corpus ingest.

    Which duplicate WINS differs by mode: streaming keeps the first by
    ARRIVAL order (dropDuplicatesWithinWatermark semantics), batch keeps
    the first by (ingest_ts, doc_id).  The batch == stream equivalence
    test (tests/test_streaming_jobs.py) therefore replays the corpus in
    (ingest_ts, doc_id) order; on a shuffled replay the surviving doc_id
    per hash is arrival-dependent (the SET of surviving hashes is not)."""
    hashed = docs.withColumn("content_hash", F.md5("text"))
    if hashed.isStreaming:
        return hashed.withWatermark("ingest_ts", delay).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash").orderBy("ingest_ts", "doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )


def streaming_hll_distinct(
    events: DataFrame,
    key: str = "phone_number",
    window: str = "1 minute",
    delay: str = "30 seconds",
) -> DataFrame:
    """Windowed distinct-key estimation on an unbounded stream via the
    deterministic HyperLogLog from ``operators/sketches.py`` — the
    sketch's native habitat: per-window state is 512 registers no
    matter how many keys arrive, where a windowed count_distinct would
    hold every key in state.  Uses Spark's chained-stateful-aggregation
    support (register max per (window, bucket), then the per-window
    harmonic fold re-windowed on the window column).  On a batch frame
    the identical pipeline degrades to two groupBys, so batch == stream
    is testable (tests/test_streaming_jobs.py)."""
    from ..operators.sketches import (
        _POW2_NEG_CASE,
        _RANK_CASE,
        HLL_REM_MOD,
        hll_estimate,
    )

    with_time = with_event_time(events, delay)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll-"), F.col(key).cast("string"))), 1, 8), 16, 10
    ).cast("long")
    mapped = (
        with_time.withColumn("h", h)
        .withColumn("bucket", F.expr(f"h div {HLL_REM_MOD}"))
        .withColumn("w", F.col("h") % HLL_REM_MOD)
        .withColumn("rank", F.expr(_RANK_CASE))
    )
    regs = mapped.groupBy(F.window("event_time", window), "bucket").agg(
        F.max("rank").alias("mr")
    )
    rewindow = F.window(F.col("window"), window) if regs.isStreaming else F.col("window")
    agg = regs.groupBy(rewindow.alias("window")).agg(
        F.count("*").alias("n_filled"),
        F.sum(F.expr(_POW2_NEG_CASE)).alias("sum_inv"),
    )
    return agg.select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        F.col("n_filled").cast("long").alias("n_filled"),
        hll_estimate(F.col("n_filled"), F.col("sum_inv")).alias("est_distinct"),
    )


def streaming_minhash_dedup(
    docs: DataFrame,
    window: str = "1 minute",
    delay: str = "2 minutes",
) -> DataFrame:
    """Streaming NEAR-duplicate document dedup — MinHash-LSH at ingest
    time, the streaming twin of the batch ``dedup_minhash_lsh``
    candidate stage.  Input schema: (doc_id, text, ingest_ts).

    Plan: per-doc in-row MinHash banding (identical expressions to the
    batch op via ``operators.dedup.minhash_bands`` — same shingles, same
    permutation constants, same bucket md5) → explode to MINHASH_BANDS
    (band, bucket) rows/doc → ``dropDuplicatesWithinWatermark`` on
    (band, bucket): the state store holds each bucket key seen inside
    the watermark horizon, so a surviving row means "this doc arrived
    first for this bucket".  A doc is emitted as KEPT iff it owns ALL
    its bands (owned_bands == MINHASH_BANDS); any band lost to an
    earlier doc marks it a near-dup candidate and it is suppressed.

    Bounded state by construction: MINHASH_BANDS keys/doc inside the
    watermark horizon (evicted as the watermark passes) + one window
    row per in-flight (window, doc) — never corpus-proportional
    (tests/test_streaming_jobs.py asserts the plateau).

    Semantics notes (mirrors streaming_doc_dedup's arrival-order
    caveat): bucket ownership is first-ARRIVAL within the horizon; a
    dropped doc's unclaimed buckets still enter state, so a later doc
    colliding only with a dropped doc is also suppressed (same chaining
    the batch twin reproduces with a global first-(ingest_ts, doc_id)
    rank).  Within one micro-batch ownership ties are arrival-dependent;
    the batch==stream equivalence holds when replay order matches
    (ingest_ts, doc_id) order, per-doc per-batch.  Unlike the batch op
    there is no exact-Jaccard verify stage — the earlier doc's text is
    gone by design (only band hashes live in state), so this is the
    high-recall candidate filter; run the batch verifier over the kept
    corpus when exact Jaccard >= tau semantics are required.

    Docs shorter than NGRAM_N words have no shingles, hence no bands:
    they bypass the state store entirely and are NOT in the output —
    callers pass them through as trivially kept.
    """
    from ..operators.dedup import MINHASH_BANDS, NGRAM_N, minhash_bands

    grams_df = (
        docs.withColumn("words", F.split("text", " "))
        .filter(F.size("words") >= NGRAM_N)
        .withColumn(
            "grams",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("words") - NGRAM_N),
                    lambda i: F.concat_ws(
                        " ", *[F.get("words", i + k) for k in range(NGRAM_N)]
                    ),
                )
            ),
        )
    )
    banded = minhash_bands(grams_df, "doc_id", "ingest_ts")
    if docs.isStreaming:
        owned = banded.withWatermark("ingest_ts", delay).dropDuplicatesWithinWatermark(
            ["band", "bucket"]
        )
        counted = owned.groupBy(F.window("ingest_ts", window), "doc_id").agg(
            F.count("*").alias("owned_bands")
        )
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket").orderBy("ingest_ts", "doc_id")
        owned = banded.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        counted = owned.groupBy(F.window("ingest_ts", window), "doc_id").agg(
            F.count("*").alias("owned_bands")
        )
    return counted.filter(F.col("owned_bands") == MINHASH_BANDS).select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "doc_id",
        F.col("owned_bands").cast("long").alias("owned_bands"),
    )


def streaming_keep_best(
    docs: DataFrame,
    window: str = "1 minute",
    delay: str = "2 minutes",
) -> DataFrame:
    """Ingest-time cluster-representative maintenance — the streaming
    twin of the batch ``dedup_keep_best`` curation step.  Input schema:
    (doc_id, text, ingest_ts).

    At ingest there is no global pair graph to run connected components
    over, so the streaming representative key is the FULL MinHash
    signature (md5 over all K slots, ``minhash_sig_key``): a collision
    requires every signature slot to agree — the strictest rung of the
    banding ladder, i.e. near-identical documents.  Per tumbling ingest
    window and signature key the state keeps ONE running argmax
    (best = highest word_count, lowest doc_id tiebreak — the same
    quality order as the batch op) plus a member count; the window's
    representative is emitted when the watermark closes it.

    Plan: the signature is the identical in-row fold the batch LSH op
    uses (shared ``minhash_sigs``), so the only shuffle is the windowed
    (window, sig_key) aggregation, map-side combined; the argmax rides
    a single struct MAX, so state per key is one row regardless of
    cluster size.  Bounded state: in-flight windows x distinct
    signature keys per window, watermark-evicted.

    Docs shorter than NGRAM_N words have no shingles, hence no
    signature: they bypass the aggregation and are NOT in the output
    (trivially their own representatives) — same contract as
    streaming_minhash_dedup.
    """
    from ..operators.dedup import NGRAM_N, minhash_sig_key, minhash_sigs

    grams_df = (
        docs.withColumn("words", F.split("text", " "))
        .filter(F.size("words") >= NGRAM_N)
        .withColumn("word_count", F.size("words").cast("long"))
        .withColumn(
            "grams",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("words") - NGRAM_N),
                    lambda i: F.concat_ws(
                        " ", *[F.get("words", i + k) for k in range(NGRAM_N)]
                    ),
                )
            ),
        )
    )
    keyed = minhash_sigs(grams_df, "doc_id", "ingest_ts", "word_count").select(
        "doc_id", "ingest_ts", "word_count", minhash_sig_key().alias("sig_key")
    )
    if docs.isStreaming:
        keyed = keyed.withWatermark("ingest_ts", delay)
    # argmax as ONE struct MAX (word_count asc, -doc_id asc maximized =
    # best quality, lowest id tiebreak) — a single state row per key
    best = F.max(
        F.struct(F.col("word_count").alias("wc"), (-F.col("doc_id")).alias("nid"))
    ).alias("best")
    agg = keyed.groupBy(F.window("ingest_ts", window), "sig_key").agg(
        best, F.count("*").alias("n_members")
    )
    return agg.select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "sig_key",
        (-F.col("best.nid")).cast("long").alias("doc_id"),
        F.col("best.wc").cast("long").alias("word_count"),
        F.col("n_members").cast("long").alias("n_members"),
    )


def streaming_cms_cells(
    events: DataFrame,
    key: str = "phone_number",
    window: str = "1 minute",
    delay: str = "30 seconds",
) -> DataFrame:
    """Windowed Count-Min sketch maintenance on an unbounded stream —
    the streaming half of ``sketch_cms_heavy_hitters``: per tumbling
    window, count into the d x w cell grid (same seeded md5 bucketing as
    the batch op, so cells are bit-identical).  State per window is at
    most CMS_D x CMS_W = 4096 integer cells NO MATTER how many distinct
    keys arrive — the property a windowed per-key count cannot give.
    Estimation is the batch half (lambda style): probe the materialized
    cell table with min-over-rows per key; CMS guarantees est >= true.
    On a batch frame the identical pipeline is a plain groupBy, so
    batch == stream is testable."""
    from ..operators.sketches import CMS_D, _cms_bucket_col

    with_time = with_event_time(events, delay)
    rows_h = with_time.select(
        F.col(key).alias("k"),
        "event_time",
        F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("r"),
    )
    cells = (
        rows_h.withColumn("bucket", _cms_bucket_col(F.col("k"), F.col("r")))
        .groupBy(F.window("event_time", window), "r", "bucket")
        .agg(F.count("*").alias("c"))
    )
    return cells.select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "r",
        "bucket",
        F.col("c").cast("long").alias("c"),
    )


def read_event_stream_json_robust(
    spark: SparkSession, path: str, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """Streaming twin of sources.storage.read_events_json_robust:
    PERMISSIVE JSON-lines event ingestion where malformed lines land in
    ``corrupt_col`` per micro-batch instead of failing the query.
    Split with sources.storage.split_quarantine (works unchanged on
    streaming frames)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ..schemas import MESSAGE_EVENT_SCHEMA

    schema = StructType(
        list(MESSAGE_EVENT_SCHEMA.fields) + [StructField(corrupt_col, StringType(), True)]
    )
    return (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def run_streaming_heavy_hitters(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint: str,
    key: str = "phone_number",
    window: str = "1 minute",
    delay: str = "30 seconds",
    topk: int = 10,
):
    """Serving layer over the windowed CMS: maintain per-window cell
    grids in the stream (bounded state — see streaming_cms_cells) and,
    per emitted batch of closed windows, probe those cells with a BATCH
    candidate-key table to publish a top-k parquet per window.

    The candidate keys come from a ONE-TIME batch read of the replay
    directory at query start — in production this is the side table of
    keys worth ranking (the whole point of CMS serving: you probe
    candidates, you never store the key universe in stream state).
    This is correct under the availableNow trigger used here (the input
    set is frozen before the query starts); under a continuous trigger
    keys first appearing in later files would never be ranked — re-read
    the candidate table inside the sink if you repurpose this for a
    live stream.  Batch-id-partitioned dynamic
    overwrite keeps the sink idempotent under foreachBatch replays
    (same pattern as run_detector_pipeline).  Estimates >= true counts
    (CMS guarantee), ties broken by key."""
    from ..operators.sketches import CMS_D, _cms_bucket_col

    stream = read_event_stream_from_files(spark, events_path)
    cells = streaming_cms_cells(stream, key=key, window=window, delay=delay)

    batch_events = spark.read.schema(MESSAGE_EVENT_SCHEMA).parquet(events_path)
    candidate_keys = (
        with_event_time(batch_events, None)
        .select(
            F.unix_millis(F.window("event_time", window).start).alias("window_start_ms"),
            F.col(key).alias("k"),
        )
        .distinct()
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            probe = (
                batch_df.select("window_start_ms")
                .distinct()
                .join(candidate_keys, "window_start_ms")
                .select(
                    "window_start_ms",
                    "k",
                    F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("r"),
                )
                .withColumn("bucket", _cms_bucket_col(F.col("k"), F.col("r")))
            )
            est = (
                probe.join(batch_df, ["window_start_ms", "r", "bucket"], "left")
                .fillna(0, subset=["c"])
                .groupBy("window_start_ms", "k")
                .agg(F.min("c").cast("long").alias("est_count"))
            )
            from pyspark.sql import Window as W

            ranked = est.withColumn(
                "rank",
                F.row_number().over(
                    W.partitionBy("window_start_ms").orderBy(
                        F.col("est_count").desc(), F.col("k")
                    )
                ),
            ).filter(F.col("rank") <= topk)
            (
                ranked.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_path)
            )
        finally:
            batch_df.unpersist()

    return start_stream(
        cells.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True),
        cells.sparkSession,
    )


def run_streaming_pack(
    doc_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint: str,
    seq_len: int = 2048,
):
    """Concat-and-chunk sequence packing AT INGEST (the streaming twin
    of ``pack_sequences``): documents append to a global token stream
    in arrival order and each batch assigns its docs' global offsets /
    packed-sequence ranges as they arrive — the production shape where
    training shards are laid out continuously instead of by a corpus-
    wide batch job.

    The only cross-batch state is ONE scalar per processed batch (the
    batch's token total, in ``state_dir`` partitioned by batch_id).
    Batch b's carry-in = the sum of totals of batches < b, so a
    REPLAYED batch recomputes the identical carry (earlier partitions
    are immutable) and dynamically overwrites its own out/state
    partitions — at-least-once replay is a row-for-row no-op, the same
    idempotency pattern as every other foreachBatch sink here.  Within
    a batch, offsets come from the same recursive distributed prefix
    sum the batch op uses (doc_id order).  ``doc_stream`` needs
    (doc_id, text)."""
    from pyspark.sql.utils import AnalysisException

    from ..operators.packing import exclusive_prefix_sum

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        spaces = F.length(F.col("text")) - F.length(F.expr("replace(text, ' ', '')"))
        toks = batch_df.select("doc_id", (spaces + 1).cast("long").alias("n_tokens"))
        local = exclusive_prefix_sum(toks, "doc_id", "n_tokens", "local_off")
        try:
            prev = spark.read.parquet(state_dir).filter(F.col("batch_id") < batch_id)
            carry = prev.agg(F.coalesce(F.sum("batch_tokens"), F.lit(0))).first()[0]
        except AnalysisException:
            carry = 0
        start = F.col("local_off") + F.lit(int(carry))
        # integer `div` (not float division, exact only < 2^53 cumulative
        # tokens) so the "pure integer arithmetic end-to-end" contract
        # holds at the 100 TB production shape, matching the batch op
        with_start = local.select(
            "doc_id", "n_tokens", start.alias("start_offset")
        )
        start_seq = F.expr(f"start_offset div {seq_len}")
        end_seq = F.expr(f"(start_offset + n_tokens - 1) div {seq_len}")
        out = with_start.select(
            "doc_id",
            "n_tokens",
            "start_offset",
            start_seq.alias("start_seq"),
            end_seq.alias("end_seq"),
            (end_seq - start_seq + 1).alias("n_seqs"),
        )
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
        total = toks.agg(F.coalesce(F.sum("n_tokens"), F.lit(0))).first()[0]
        (
            spark.createDataFrame(
                [(int(total),)], "batch_tokens long"
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state_dir)
        )

    return start_stream(
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True),
        doc_stream.sparkSession,
    )


def run_streaming_reservoir(
    doc_stream: DataFrame,
    reservoir_dir: str,
    checkpoint: str,
    k: int = 200,
    seed: str = "wres",
):
    """Weighted reservoir sampling AT INGEST: maintain the top-k
    documents by the Efraimidis-Spirakis key (u^(1/n_tokens), the same
    scheme as smp5_weighted_sample) while the corpus streams in.

    Top-k by a per-row deterministic key is a MERGEABLE summary:
    top_k(top_k(A) ∪ B) = top_k(A ∪ B), so the maintained reservoir is
    exactly the batch answer over everything ingested so far,
    regardless of how the stream was batched — the property that makes
    a driver-hashable streaming query possible.  Each foreachBatch
    merges the arriving documents into the k-row reservoir parquet
    (eager localCheckpoint decouples the read from the overwrite);
    state outside the store is ONE k-row table, and per-batch work is
    O(batch + k).  ``doc_stream`` needs (doc_id, text) columns."""
    from pyspark.sql.utils import AnalysisException

    from ..functions.expressions import det_uniform

    spaces = F.length(F.col("text")) - F.length(F.expr("replace(text, ' ', '')"))
    n_tokens = (spaces + 1).cast("long")
    # single definition of the uniform draw, shared with
    # smp5_weighted_sample and its DuckDB oracle (bit parity)
    u = det_uniform("doc_id", seed=seed)
    key = F.round(F.pow(u, F.lit(1.0) / n_tokens.cast("double")), 9)
    scored_cols = ["doc_id", "n_tokens", "sample_key"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        scored = batch_df.select(
            "doc_id", n_tokens.alias("n_tokens"), key.alias("sample_key")
        )
        try:
            current = spark.read.parquet(reservoir_dir).select(*scored_cols)
        except AnalysisException:
            current = spark.createDataFrame([], "doc_id long, n_tokens long, sample_key double")
        # foreachBatch is at-least-once: a replayed batch (reservoir
        # overwritten, checkpoint not yet committed) unions the same docs
        # in again.  dropDuplicates makes the merge a SET union, so a
        # replay is a no-op and top-k can never hold a doc_id twice.
        merged = (
            current.unionByName(scored)
            .dropDuplicates(["doc_id"])
            .orderBy(F.desc("sample_key"), "doc_id")
            .limit(k)
            .localCheckpoint(eager=True)  # materialize BEFORE overwriting the source dir
        )
        merged.write.mode("overwrite").parquet(reservoir_dir)

    return start_stream(
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True),
        doc_stream.sparkSession,
    )
