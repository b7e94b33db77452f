"""Structured Streaming pipeline operators.

The reference's scan is bounded (EmissionType::Incremental +
Boundedness::Bounded, datafusion-loki/src/scan.rs:47-48) — it has no
streaming surface. Log stores are stream-shaped, so the rebuild adds the
idiomatic Spark layer: readStream over the ``loki`` source (tail),
watermarked windowed rollups for late data, stateful sessionization via
``applyInPandasWithState``, and writeStream back into Loki.

100 TB posture: windowed aggregation state is bounded by the watermark
(late rows beyond 10 min are dropped, state evicted); sessionization state
is per-user and timed out by the gap, so state size tracks active users,
not history. Both shuffle once on their grouping key per micro-batch.
"""

from __future__ import annotations

import uuid
from typing import Any, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA_NS = (
    "event_id long, ts long, user_id long, event_type string, value double,"
    " props string"
)

EVENTS_SCHEMA_US = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp,"
    " n_events int, total_value double"
)

SESSION_GAP_SECONDS = 30 * 60


def _is_empty_sink_error(e) -> bool:
    """Whether an AnalysisException means "nothing at this path yet" — a
    missing path or an existing-but-empty directory. The ONE dispatch
    shared by every first-batch / never-streamed-into detection site:
    any OTHER analysis error (corrupt footer, permissions) must
    propagate, never be misread as an empty sink."""
    cond = e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
    return cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _exact_value_sum() -> "F.Column":
    """The precision-pinned value rollup shared by the windowed and
    session aggregates: DECIMAL(12,2) summation (order-insensitive)
    surfaced as double — one definition so the two streaming rollups
    (and their oracles) can never drift apart."""
    return F.sum(F.col("value").cast("decimal(12,2)")).cast("double")


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based micro-batch stream over the driver's events table (the
    local stand-in for a Kafka/Loki tail). The events parquet has shipped
    both as TIMESTAMP(NANOS) (readable only as int64 via nanosAsLong) and as
    TIMESTAMP(MICROS); readStream needs an explicit schema, so we probe the
    physical encoding with a footer-only batch read and convert THROUGH
    catalog's shared probe + normalize helpers — the batch and stream
    paths must dispatch identically or every batch/stream equivalence
    test silently keys on diverging timestamps."""
    import os

    from datafusion_loki_spark.catalog import (
        normalize_events_ts,
        probe_events_ts_is_long,
    )

    path = os.path.join(sf_dir, "events.parquet")
    ts_is_long = probe_events_ts_is_long(spark, path)
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA_NS if ts_is_long else EVENTS_SCHEMA_US)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events_ts(raw, ts_is_long)


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour rollup per event_type with a 10-minute watermark —
    the canonical late-data-tolerant streaming aggregation."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            _exact_value_sum().alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_window_counts(events: DataFrame) -> DataFrame:
    """Native gap-merged session aggregation via ``session_window``,
    with a 5-MINUTE idle gap — deliberately NOT sessionize's 30-minute
    SESSION_GAP_SECONDS: the two operators demonstrate the two APIs,
    not one pipeline, and their outputs are not comparable session for
    session (a 10-minute-apart event pair is one sessionize session but
    two here). Prefer this shape whenever the per-session output is expressible
    as an aggregate: Spark manages, merges, and watermark-evicts the
    session state natively (no Python in the loop), and the identical
    code runs in batch mode for backfills.

    100 TB posture: one shuffle on (user_id) per micro-batch; state is
    bounded by the watermark horizon — sessions older than watermark
    close and evict. The custom-state sessionize remains for outputs an
    aggregate can't express (e.g. emit-on-close with gap context)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", "5 minutes").alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            _exact_value_sum().alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def _sessionize_fn(
    key: tuple, pdfs: Iterator[Any], state: GroupState
) -> Iterator[Any]:
    """Gap-based session assembly for one user. State = (start_us, end_us,
    n_events, total_value); a new event beyond the gap closes the session."""
    import pandas as pd

    (user_id,) = key
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    if state.exists:
        start_us, end_us, n_events, total_value = state.get
    else:
        start_us = end_us = None
        n_events, total_value = 0, 0.0

    closed: list[tuple] = []
    if state.hasTimedOut:
        # event-time timer fired: the watermark passed end+gap, close it
        if n_events:
            closed.append((user_id, start_us, end_us, n_events, total_value))
        state.remove()
    else:
        rows = pd.concat(list(pdfs)).sort_values("ts")
        for ts, value in zip(rows["ts"], rows["value"]):
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if start_us is None:
                start_us, end_us = ts_us, ts_us
                n_events, total_value = 1, float(value)
            elif ts_us - end_us > gap_us:
                closed.append((user_id, start_us, end_us, n_events, total_value))
                start_us, end_us = ts_us, ts_us
                n_events, total_value = 1, float(value)
            else:
                end_us = max(end_us, ts_us)
                n_events += 1
                total_value += float(value)
        state.update((start_us, end_us, n_events, total_value))
        # close via event-time: fires once the watermark passes end+gap
        state.setTimeoutTimestamp(end_us // 1000 + SESSION_GAP_SECONDS * 1000)

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                "n_events": [c[3] for c in closed],
                "total_value": [c[4] for c in closed],
            }
        )


def sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful operator: gap-based sessions per user via
    applyInPandasWithState. A session closes when the next event arrives
    past the 30-min gap (in-batch evidence) or when the event-time
    watermark passes session_end + gap (timer). Event-time timeout keeps
    the operator deterministic and compatible with availableNow drains
    (processing-time timers would hold the trigger hostage)."""
    return (
        events.select(F.col("ts").cast("timestamp"), "user_id", "value")
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType="start_us long, end_us long, n_events int, total_value double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


RUNNING_TOTALS_SCHEMA = "user_id long, n_events long, total_value double"
_RUNNING_TOTALS_STATE = "n_events long, total_value double"


def _running_totals_fn(
    key: Any, pdfs: Iterator, state: GroupState
) -> Iterator:
    """applyInPandasWithState kernel for the running-totals accumulator:
    one fixed-size (n, total) state row per user, refreshed totals emitted
    once per micro-batch the user appears in (update semantics)."""
    import pandas as pd

    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, total_value) over
    ``applyInPandasWithState`` — the feature-store accumulator shape.

    Emits the refreshed running totals for every user a micro-batch
    touched (update semantics), pinned against the batch aggregate by
    tests/test_streaming.py::test_running_totals_compat_matches_batch
    and its checkpoint-restart twin.

    100 TB posture: state is ONE fixed-size row per user (no per-event
    history), the shuffle key is user_id, and the per-batch output is
    bounded by the touched-user count."""
    # NO watermark (round-7 review): the accumulator uses no timers and
    # no windowing, so a watermark's ONLY effect here is that the
    # stateful operator DROPS input rows older than it — late events
    # silently vanish from totals the batch twin counts. A running total
    # has no late-data eviction semantics to buy.
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: first event per (user_id, event_type) wins,
    later duplicates are dropped while their key is inside the watermark.

    The streaming face of dedup_exact_docs: dropDuplicatesWithinWatermark
    bounds the dedup state by event time (keys are evicted once the
    watermark passes), so state size tracks the active window — not corpus
    history — which is what makes exact dedup feasible on an unbounded
    100 TB/day stream. One shuffle on the dedup key per micro-batch."""
    return (
        events.select(
            F.col("ts").cast("timestamp"), "user_id", "event_type", "event_id"
        )
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )


def click_to_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding hour — the attribution shape.

    100 TB posture: both sides carry watermarks and the join condition
    bounds event time on BOTH sides, so Spark evicts join state once the
    watermark passes click_ts + 1h — state tracks one hour of clicks, not
    the stream's history. One shuffle per side on user_id."""
    # ONE streaming source, two filtered views — a second
    # events_file_stream call would register an independent file source
    # (and run the footer probe again), listing and scanning the same
    # file twice per micro-batch
    ev = events_file_stream(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").cast("timestamp").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    return clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + interval 1 hour"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def incremental_admission_stream(
    stream_docs: DataFrame, corpus_fingerprints: DataFrame
) -> DataFrame:
    """Streaming corpus admission: drop every incoming document whose
    content fingerprint already exists in the (static) corpus — the
    streaming face of operators/dedup.dedup_incremental, as a
    stream-static LEFT ANTI join.

    `stream_docs` must carry a `text` column; `corpus_fingerprints` is a
    static frame with a single `fingerprint` md5 column (at scale: the
    corpus fingerprint table, bucketed by fingerprint).

    100 TB posture: stateless — no state store at all (unlike
    stream-stream joins); the static side is re-read per micro-batch, so
    corpus growth between batches is picked up without restarting. The
    anti join is broadcast when the fingerprint set fits, hash-join
    against the bucketed table otherwise; the stream side never shuffles
    in the broadcast case."""
    from datafusion_loki_spark.operators.text import _NORM_SPARK

    fp = stream_docs.withColumn("fingerprint", F.expr(f"md5({_NORM_SPARK})"))
    return fp.join(corpus_fingerprints, "fingerprint", "left_anti")


def decode_admission_stream(stream_media: DataFrame) -> DataFrame:
    """Streaming DECODE admission (round 13 — the batch gate
    multimodal.mm_decode_validate at INGEST): each arriving media row's
    payload is routed through the real decode_image dispatch inside an
    Arrow-batched kernel, emitting (original columns minus payload,
    fmt, ok, n_pixels). Downstream consumers filter ``ok`` to admit —
    the first gate a multimodal ingest runs, BEFORE the stateful
    admissions (exact / LSH / winnow / phash), so undecodable bytes
    never reach a state store.

    ``stream_media`` needs a ``payload`` (binary) column; every OTHER
    column (doc_id, media_type, timestamps, ...) is carried through the
    kernel untouched (round-14 ADVICE — downstream admission consumers
    need them without a join back).
    Malformed payloads (ValueError from any decoder, or an unknown
    signature) reject with fmt='unknown' where unsniffable; audio
    (RIFF/WAVE, round 14) admits through the real decode_wav chunk walk
    with a NULL n_pixels; video (RIFF/AVI, round 15) admits through the
    real MJPEG container walk with n_pixels = total decoded frame
    pixels; a
    NotImplementedError (a format this build has no codec for — the
    PIL gate) PROPAGATES loud: silently rejecting a format you simply
    cannot decode would throw away good corpus data.

    100 TB posture: stateless (pure per-row validation — no state
    store, no watermark, no shuffle); the kernel is the same Arrow
    batch shape as the batch face, so the per-item decode cost and its
    documented native-codec swap point carry over unchanged."""
    sniffs = (
        (b"P6", "ppm"),
        (b"P5", "pgm"),  # round 15: the Netpbm family completed
        (b"P4", "pbm"),
        (b"BM", "bmp"),
        (b"\x89PNG\r\n\x1a\n", "png"),
        (b"\xff\xd8", "jpeg"),
        (b"GIF87a", "gif"),
        (b"GIF89a", "gif"),
        (b"II\x2a\x00", "tiff"),
        (b"MM\x00\x2a", "tiff"),
        (b".snd", "au"),  # round 15: the classic telephony container
        (b"RIFF", "wav"),  # round 14: the audio modality is admitted
        # too — verified as RIFF/WAVE below, decoded by decode_wav;
        # RIFF/WEBP re-sniffs to 'webp' below (late round 14: real
        # VP8L decode through the image dispatch)
    )

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    passthrough = [f for f in stream_media.schema.fields if f.name != "payload"]
    out_schema = StructType(
        list(passthrough)
        + [
            StructField("fmt", StringType()),
            StructField("ok", BooleanType()),
            StructField("n_pixels", LongType()),
        ]
    )

    def kernel(batches):
        import pandas as pd

        from datafusion_loki_spark.operators.multimodal import decode_image

        from datafusion_loki_spark.operators.wav import decode_wav

        for pdf in batches:
            fmts, oks, npx = [], [], []
            for b in pdf["payload"]:
                blob = bytes(b) if b is not None else b""
                fmt = next(
                    (name for sig, name in sniffs if blob[: len(sig)] == sig),
                    "unknown",
                )
                if fmt == "wav" and blob[8:12] != b"WAVE":
                    if blob[8:12] == b"WEBP":
                        fmt = "webp"  # image path via decode_image
                    elif blob[8:12] == b"AVI ":
                        fmt = "avi"  # round 15: video admits too
                    else:
                        fmt = "unknown"  # RIFF, not WAVE/WEBP/AVI
                if fmt == "unknown":
                    ok, n = False, None
                elif fmt == "avi":
                    # video admission (round 15): the real MJPEG
                    # container walk + per-frame JPEG decode;
                    # n_pixels = total decoded pixels across frames
                    from datafusion_loki_spark.operators.avi import (
                        decode_avi_frames,
                    )

                    try:
                        _fps, frames = decode_avi_frames(blob)
                        ok = True
                        n = sum(fw * fh for fw, fh, _a in frames)
                    except ValueError:
                        ok, n = False, None
                elif fmt in ("wav", "au"):
                    # audio admission: real chunk-walk / header decode;
                    # n_pixels stays NULL (frames are not pixels —
                    # downstream audio consumers re-decode for analysis)
                    from datafusion_loki_spark.operators.wav import (
                        decode_au,
                    )

                    try:
                        (decode_wav if fmt == "wav" else decode_au)(blob)
                        ok, n = True, None
                    except ValueError:
                        ok, n = False, None
                else:
                    try:
                        arr = decode_image(blob)
                        ok, n = True, int(arr.shape[0] * arr.shape[1])
                    except ValueError:
                        ok, n = False, None
                fmts.append(fmt)
                oks.append(ok)
                npx.append(n)
            if len(pdf):
                res = pdf.drop(columns=["payload"]).reset_index(drop=True)
                res["fmt"] = fmts
                res["ok"] = oks
                res["n_pixels"] = pd.array(npx, dtype="Int64")
                yield res

    return stream_media.mapInPandas(kernel, out_schema)


def enriched_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    static customer/nation dimensions — the standard 'decorate the stream
    with warehouse attributes' pipeline stage (completes the join-family
    coverage: stream-stream interval join lives in click_to_purchase_join).

    100 TB posture: the static side is re-read per micro-batch and
    broadcast (no stream-side shuffle, no state store at all — unlike
    stream-stream joins this is stateless); dimension updates become
    visible at the next micro-batch without restarting the query."""
    from datafusion_loki_spark.catalog import load_table

    ev = events_file_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dims = F.broadcast(
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return ev.join(dims, ev.user_id == dims.c_custkey).select(
        "event_id", "ts", "user_id", "event_type", "value", "c_mktsegment", "n_name"
    )


def rollup_to_parquet(
    windowed: DataFrame,
    path: str,
    checkpoint_dir: str,
) -> "StreamingQuery":  # noqa: F821 - pyspark.sql.streaming type
    """Incremental materialized view: a watermarked windowed aggregate
    maintained as day-partitioned parquet via foreachBatch — the
    streaming→warehouse landing pattern (Loki tail in, query-ready rollup
    table out).

    Idempotence/exactly-once: update-mode emits only the windows a
    micro-batch touched, so a blind partition overwrite would delete that
    day's OTHER windows (the multi-batch data-loss bug this fixes).
    foreachBatch instead read-merges: load the touched day partitions,
    anti-join away rows whose (window_start, event_type) key the batch
    refreshes, union the batch rows in, and dynamic-overwrite only those
    day directories. A replayed batch after failure converges to the same
    files (the merge is keyed, not additive). Readers prune by the `day`
    directory. At 100 TB the rollup rows are tiny relative to the stream —
    the merge reads back only (days touched per batch) of compact rollup
    rows, and write amplification stays bounded by (days touched) × one
    file each (functions/layout.py small-files control)."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # empty micro-batch: no sink read, no write job
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        out = batch_df.withColumn("day", F.col("window_start").cast("date"))
        try:
            existing = spark.read.parquet(path)
        except AnalysisException as e:
            # Only genuinely-empty sinks mean "first batch": a missing path
            # or an existing-but-empty directory (zero-row first batch,
            # manual cleanup). Any OTHER analysis error (corrupt footer,
            # permission problem surfacing as analysis failure) must NOT be
            # misread as first-batch — that would silently drop every
            # previously-written window for the touched days.
            if not _is_empty_sink_error(e):
                raise
            merged = out  # first batch: nothing at `path` yet
        else:
            days = [r.day for r in out.select("day").distinct().collect()]
            keys = out.select("window_start", "event_type").distinct()
            kept = (
                existing.where(F.col("day").isin(days))
                .join(keys, ["window_start", "event_type"], "left_anti")
                .select(*out.columns)
            )
            # localCheckpoint materializes the merge before the overwrite
            # below deletes the very files `existing` reads from.
            merged = out.unionByName(kept).localCheckpoint(eager=True)
        (
            merged.repartition("day")
            .sortWithinPartitions("day", "event_type", "window_start")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .option("compression", "zstd")
            .parquet(path)
        )

    return (
        windowed.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_upsert)
        .trigger(availableNow=True)
        .start()
    )


def corpus_manifest_stream(
    verdicts: DataFrame,
    path: str,
    checkpoint_dir: str,
) -> "StreamingQuery":  # noqa: F821 - pyspark.sql.streaming type
    """Streaming corpus-manifest twin (round 15, verdict Next #6): the
    media what-you-SHIP row maintained CONTINUOUSLY at ingest. Input is
    an admission-verdict stream (decode_admission_stream output whose
    source carried ``media_type`` and ``n_bytes`` through the kernel);
    a stateful running aggregate per media_type tracks items seen,
    items admitted, admitted bytes and admitted pixels — the same
    column set as the batch mm_corpus_manifest, with the ingest-time
    decode admission as the gate (the batch manifest remains the
    full-gate truth: exact/perceptual/semantic dedup verdicts need the
    corpus-wide state only the batch keep-list has).

    Idempotence/exactly-once: update-mode emits the CUMULATIVE row for
    each media_type a micro-batch touched, and the sink is partitioned
    BY THE AGGREGATION KEY — so a dynamic partition overwrite replaces
    exactly that key's one-row partition with its refreshed total, and
    a replayed batch after failure rewrites the same row
    (rollup_to_parquet needs a read-merge because its day partitions
    hold many window keys; here partition == key, so the overwrite IS
    the merge). Restart with the same checkpoint recovers the running
    totals from the state store, so the manifest converges to the
    batch aggregate over everything ingested.

    100 TB posture: state is O(media types) rows; the per-batch shuffle
    carries only (media_type, 4 counters) partials — payloads never
    reach the aggregation (the admission kernel already dropped them);
    the sink write is O(types touched per batch) tiny files."""
    kept = F.col("ok")
    agg = verdicts.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(
            F.when(kept, F.col("n_bytes").cast("long")).otherwise(0)
        ).alias("kept_bytes"),
        F.sum(
            F.when(kept, F.coalesce(F.col("n_pixels"), F.lit(0)))
            .otherwise(0)
        ).alias("kept_pixels"),
    )

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = batch_df.withColumn(
            "kept_fraction",
            F.col("n_kept").cast("double") / F.col("n_items"),
        )
        (
            out.repartition("media_type")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("media_type")
            .option("compression", "zstd")
            .parquet(path)
        )

    return (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_upsert)
        .trigger(availableNow=True)
        .start()
    )


def _value_bucket() -> "F.Column":
    # ONE grid definition shared with the batch drift ops — imported,
    # not duplicated, so the batch twin (plans/logs.py::log_window_drift)
    # certifies exactly the math this monitor runs
    from datafusion_loki_spark.plans.logs import value_hist_bucket

    return value_hist_bucket()


def reference_histogram(events_batch: DataFrame) -> DataFrame:
    """Static per-(event_type, bucket) baseline histogram — the
    distribution the live stream is compared against (typically built
    from a vetted historical slice; any batch events frame works)."""
    return (
        events_batch.select("event_type", _value_bucket().alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("c_ref"))
    )


def windowed_value_histogram(events: DataFrame) -> DataFrame:
    """Streaming per-window value histogram: tumbling 1-hour
    (event_type, bucket) counts with a 10-minute watermark — the
    stream-side half of the drift monitor. One stateful aggregation on
    a bounded (types × buckets) key per window."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 hour").alias("win"),
            F.col("event_type"),
            _value_bucket().alias("bucket"),
        )
        .agg(F.count("*").alias("c"))
        .select(F.col("win.start").alias("window_start"), "event_type", "bucket", "c")
    )


def histogram_divergence(hist: DataFrame, reference: DataFrame) -> DataFrame:
    """Shared scorer — the single implementation lives in
    plans/logs.py::histogram_divergence (the batch twin certifies it
    with a DuckDB oracle); re-exported here for the streaming sink."""
    from datafusion_loki_spark.plans.logs import (
        histogram_divergence as _shared,
    )

    return _shared(hist, reference)


DRIFT_RETENTION_WINDOWS = 48  # bucket-state horizon (hours of 1h windows)


def drift_stream(
    windowed_hist: DataFrame,
    reference: DataFrame,
    sink: "dict[tuple, Any]",
    checkpoint_dir: str,
    bucket_state: "dict[tuple, int] | None" = None,
) -> "StreamingQuery":  # noqa: F821
    """Maintain the per-(window, type) drift scores incrementally.

    Update-mode emits only the (window, type, bucket) AGGREGATE ROWS a
    micro-batch changed — an incomplete histogram slice for the group —
    so the divergence cannot be computed from the batch alone (the
    subtle wrongness this design avoids): foreachBatch upserts the
    emitted bucket rows into ``bucket_state``, then recomputes the
    divergence for exactly the TOUCHED (window, type) groups from that
    accumulated state against the reference (localCheckpoint-pinned
    here, so its lineage is NOT re-executed per micro-batch). Replayed
    batches converge (both upserts are keyed, not additive). A window's
    score is a live estimate until its watermark passes, then final.

    State contract: the streaming aggregation state is watermark-
    evicted natively; the driver-side ``bucket_state`` mirror is
    bounded by DRIFT_RETENTION_WINDOWS — entries older than the newest
    touched window minus the horizon are dropped after scoring (their
    sink scores are final by then). RESTART RECOVERY: committed batches
    are not re-emitted when resuming from an existing checkpoint, so a
    caller restarting mid-stream must pass back the ``bucket_state``
    (and ``sink``) persisted alongside the checkpoint — with a fresh
    in-memory dict, only a from-scratch or full-replay drain (fresh
    checkpoint, replayable source — what the tests do) is correct.
    Everything foreachBatch touches is rollup-scale: (touched windows ×
    types × buckets) rows, never the stream."""

    buckets: dict[tuple, int] = bucket_state if bucket_state is not None else {}
    reference = reference.localCheckpoint()

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # touched rollup rows only
        if not rows:
            return
        touched = set()
        for r in rows:
            buckets[(r.window_start, r.event_type, r.bucket)] = r.c
            touched.add((r.window_start, r.event_type))
        spark = batch_df.sparkSession
        hist = spark.createDataFrame(
            [
                (w, t, b, c)
                for (w, t, b), c in buckets.items()
                if (w, t) in touched
            ],
            "window_start timestamp, event_type string, bucket bigint,"
            " c bigint",
        )
        for r in histogram_divergence(hist, reference).collect():
            sink[(r.window_start, r.event_type)] = (
                r.n_events,
                r.n_buckets,
                r.chi2,
            )
        # bound the driver-side mirror: windows older than the horizon
        # can never be touched again (their scores are final)
        import datetime as _dt

        horizon = max(w for (w, _t) in touched) - _dt.timedelta(
            hours=DRIFT_RETENTION_WINDOWS
        )
        for k in [k for k in buckets if k[0] < horizon]:
            del buckets[k]

    return (
        windowed_hist.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_upsert)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(
    stream_df: DataFrame,
    table_name: str,
    spark: SparkSession,
    output_mode: str = "append",
) -> None:
    """Drain a stream with availableNow into an in-memory table (test/bench
    helper). Update-semantics operators (applyInPandasWithState in update
    mode) require a matching update sink mode — pass output_mode="update"."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- streaming NEAR-dup admission (stateful MinHash-LSH buckets) ------------

NEAR_DUP_STATE_CAP = 64           # doc fingerprints retained per band bucket
NEAR_DUP_BUCKET_TTL_SECONDS = 3600  # idle buckets evicted past watermark+TTL

NEAR_DUP_CANDIDATES_SCHEMA = (
    "band_idx int, band_key string, doc_id long, prior_id long"
)


def doc_band_keys_streamside(docs: DataFrame) -> DataFrame:
    """(ts, doc_id, band_idx, band_key): per-ROW MinHash band keys, no
    shuffle — the streaming twin of operators/dedup.minhash_signatures.

    The batch path explodes shingles and computes the 8 minhashes as
    codegen'd min() AGGREGATES (one groupBy shuffle) because that is the
    throughput shape for a backfill. On a stream that groupBy would
    become an unbounded stateful aggregation keyed by doc_id, so here
    the minhashes fold per row with array_min(transform(...)) —
    interpreted lambdas (md5 runs CodegenFallback inside a HOF), the
    documented CPU trade for a SHUFFLE-FREE, STATELESS signature stage.
    Hash math is bit-identical to the batch path and the DuckDB oracle
    (md5('<j>:'||shingle); band = md5(mh_a||mh_b||...)), so batch
    backfill and streaming ingest land in the SAME buckets."""
    from datafusion_loki_spark.operators.dedup import (
        _N_BANDS,
        _SHINGLES_FROM_TOKS,
        BAND_ROWS,
        N_MINHASH,
    )
    from datafusion_loki_spark.operators.text import _NORM_SPARK

    toks = docs.select(
        F.col("ts").cast("timestamp").alias("ts"),
        "doc_id",
        F.expr(f"split({_NORM_SPARK}, ' ')").alias("toks"),
    )
    sh = toks.select(
        "ts", "doc_id", F.expr(_SHINGLES_FROM_TOKS).alias("shingles")
    )
    mh = sh.select(
        "ts",
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(shingles, s -> md5(concat('{j}:', s))))"
            ).alias(f"mh{j}")
            for j in range(N_MINHASH)
        ],
    )
    bands = [
        F.md5(
            F.concat(
                *[F.col(f"mh{j}") for j in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)]
            )
        ).alias(f"band{b}")
        for b in range(_N_BANDS)
    ]
    return mh.select("ts", "doc_id", *bands).select(
        "ts",
        "doc_id",
        F.posexplode(F.array(*[f"band{b}" for b in range(_N_BANDS)])).alias(
            "band_idx", "band_key"
        ),
    )


def _near_dup_fn(
    key: tuple, pdfs: Iterator[Any], state: GroupState
) -> Iterator[Any]:
    """Kernel for one (band_idx, band_key) bucket: state = the doc_ids
    most recently seen in this bucket (FIFO, capped); each arriving doc
    emits one candidate row per retained prior occupant, then joins the
    state. A doc_id still RETAINED in the FIFO is a source replay
    (at-least-once upstream) and emits nothing. The guard is scoped to
    the retention window by construction: a replay arriving after its
    doc was FIFO-evicted (>= NEAR_DUP_STATE_CAP newer occupants in a hot
    bucket) re-admits it and re-emits candidate rows against the current
    occupants — with CAPPED state no stream operator can distinguish
    that from a genuinely new doc. The output contract absorbs this:
    candidate pairs are a RECALL superset handed to idempotent verify
    stages (ngram-Jaccard / edit distance dedup by pair key), so
    duplicate or role-flipped candidates cost re-verification, never
    wrong keep/drop decisions (pinned by
    test_near_dup_redelivery_after_eviction_is_superset_only)."""
    yield from _near_dup_impl(key, pdfs, state, with_fp=False)


_U64 = (1 << 64) - 1


def _near_dup_verified_fn(
    key: tuple, pdfs: Iterator[Any], state: GroupState
) -> Iterator[Any]:
    """_near_dup_fn with the IN-STREAM hamming verify (round-9 VERDICT
    #5): state additionally retains each occupant's 64-bit perceptual
    fingerprint (FIFO-trimmed in lockstep with ids), and an arriving doc
    emits a pair ONLY when xor+bit_count against the retained
    fingerprint is within MM_PHASH_HAM_MAX — consumers get VERIFIED
    pairs (with the hamming distance), not band-collision candidates.
    FIFO cap, event-time TTL, and the redelivery-superset contract are
    _near_dup_impl's, shared verbatim with the candidate kernels."""
    yield from _near_dup_impl(key, pdfs, state, with_fp=True)


def _near_dup_impl(
    key: tuple, pdfs: Iterator[Any], state: GroupState, with_fp: bool
) -> Iterator[Any]:
    import pandas as pd

    band_idx, band_key = key
    if state.hasTimedOut:
        state.remove()
        return
    ids: list = list(state.get[0]) if state.exists else []
    fps: list = (list(state.get[1]) if state.exists else []) if with_fp else []
    new_ids: list = []
    prior_ids: list = []
    hammings: list = []
    max_ts_us = 0
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        # one global sort across the batch's chunks — Spark hands the
        # group over in arbitrary chunk order, and "prior" must mean
        # earlier event time, not earlier chunk
        rows = (
            chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        ).sort_values(["ts", "doc_id"])
        import itertools

        fp_col = rows["fp"] if with_fp else itertools.repeat(None)
        ham_max = _phash_ham_max() if with_fp else 0  # hoisted: the
        # import-lookup call was previously inside the per-(doc x
        # occupant) inner loop (round-10 review)
        for ts, did, fp in zip(rows["ts"], rows["doc_id"], fp_col):
            did = int(did)
            # event time advances on EVERY row, replay or not: GroupState
            # cancels the previously-set timeout on each invocation, so a
            # replay-only micro-batch that skipped this update would
            # silently drop the bucket's TTL and retain its state forever
            # (round-7 ADVICE)
            max_ts_us = max(max_ts_us, int(pd.Timestamp(ts).value // 1000))
            if did in ids:
                continue
            if with_fp:
                fp = int(fp)
                for prior, prior_fp in zip(ids, fps):
                    # signed-long fingerprints: mask the xor to unsigned
                    # 64 before counting (python ints are two's-
                    # complement-infinite for negatives)
                    ham = ((fp ^ int(prior_fp)) & _U64).bit_count()
                    if ham <= ham_max:
                        new_ids.append(did)
                        prior_ids.append(prior)
                        hammings.append(ham)
                fps.append(fp)
            else:
                for prior in ids:
                    new_ids.append(did)
                    prior_ids.append(prior)
            ids.append(did)
            if len(ids) > NEAR_DUP_STATE_CAP:
                ids = ids[-NEAR_DUP_STATE_CAP:]
                if with_fp:
                    fps = fps[-NEAR_DUP_STATE_CAP:]
    state.update((ids, fps) if with_fp else (ids,))
    if max_ts_us:
        state.setTimeoutTimestamp(
            max_ts_us // 1000 + NEAR_DUP_BUCKET_TTL_SECONDS * 1000
        )
    if new_ids:
        out = {
            "band_idx": band_idx,
            "band_key": band_key,
            "doc_id": new_ids,
            "prior_id": prior_ids,
        }
        if with_fp:
            out["hamming"] = hammings
        yield pd.DataFrame(out)


def _phash_ham_max() -> int:
    from datafusion_loki_spark.operators.multimodal import MM_PHASH_HAM_MAX

    return MM_PHASH_HAM_MAX


def near_dup_admission_stream(stream_docs: DataFrame) -> DataFrame:
    """Streaming NEAR-duplicate detection at ingest: each incoming
    document is checked against the recent stream via stateful
    MinHash-LSH buckets and emits (doc_id, prior_id) candidate rows —
    the missing third face of the dedup triad (batch near-dup:
    dedup_minhash_lsh; streaming EXACT admission:
    incremental_admission_stream). A doc with zero candidate rows across
    its bands is a clean admit; candidates flow to the same verify
    stages the batch pipeline uses (ngram-Jaccard / edit distance).

    ``stream_docs`` must carry (ts, doc_id, text); ts drives the
    watermark.

    100 TB posture: the signature stage is stateless and shuffle-free
    (per-row fold — see doc_band_keys_streamside); the ONLY shuffle per
    micro-batch is the band-key exchange into the stateful operator.
    State is strictly bounded on two axes: per bucket, a FIFO cap of
    NEAR_DUP_STATE_CAP retained doc_ids (a degenerate boilerplate bucket
    holds its last 64 occupants, matching the batch LSH_BUCKET_CAP
    philosophy — recall degrades gracefully, memory does not grow); and
    across buckets, an event-time TTL evicts any bucket idle past the
    watermark (state tracks ACTIVE content, not stream history). Both
    bounds are what make near-dedup feasible on an unbounded ingest
    stream where the batch band-groupBy would accumulate forever."""
    keyed = doc_band_keys_streamside(stream_docs).withWatermark(
        "ts", "10 minutes"
    )
    return keyed.groupBy("band_idx", "band_key").applyInPandasWithState(
        _near_dup_fn,
        outputStructType=NEAR_DUP_CANDIDATES_SCHEMA,
        stateStructType="ids array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def doc_winnow_fp_streamside(docs: DataFrame) -> DataFrame:
    """(ts, doc_id, band_idx, band_key): per-ROW winnowing-selected
    fingerprints, no shuffle — the streaming twin of
    operators/dedup.dedup_winnowing's selection stage (round 11: the
    guaranteed-detection channel joins the admission family beside the
    LSH and perceptual stages).

    The batch path selects window minima with ONE doc-partitioned
    window function (the throughput shape for a backfill); on a stream
    that becomes a stateful aggregation, so here each row folds its own
    selection: the K-gram md5 array materializes ONCE per row (the
    `size(hs)` guard + bound are two non-lambda references, the
    projection-barrier rule — without them CollapseProject re-inlines
    the md5 chain per WINDOW), then every window start takes
    array_min(slice(...)). Interpreted lambdas — the documented CPU
    trade for a SHUFFLE-FREE, STATELESS stage. Selection semantics are
    bit-identical to the batch operator (window starts
    t <= ng - W + 1 plus the clipped t = 1 window for short docs;
    distinct fingerprints per doc), so batch backfill and streaming
    ingest land in the SAME buckets — pinned by
    test_winnow_streamside_matches_batch_selection."""
    from datafusion_loki_spark.operators.dedup import WINNOW_K, WINNOW_W
    from datafusion_loki_spark.operators.text import _NORM_SPARK

    hs_expr = (
        f"if(length(norm) >= {WINNOW_K},"
        f" transform(sequence(1, length(norm) - {WINNOW_K} + 1),"
        f" p -> md5(substring(norm, p, {WINNOW_K}))),"
        " cast(array() as array<string>))"
    )
    sel_expr = (
        "array_distinct(transform("
        "if(size(hs) >= 1,"
        f" sequence(1, greatest(1, size(hs) - {WINNOW_W} + 1)),"
        " cast(array() as array<int>)),"
        f" t -> array_min(slice(hs, t, {WINNOW_W}))))"
    )
    base = docs.select(
        F.col("ts").cast("timestamp").alias("ts"),
        "doc_id",
        F.expr(_NORM_SPARK).alias("norm"),
    )
    hs = base.select("ts", "doc_id", F.expr(hs_expr).alias("hs"))
    return (
        hs.select(
            "ts",
            "doc_id",
            F.explode_outer(F.expr(sel_expr)).alias("band_key"),
        )
        .where(F.col("band_key").isNotNull())
        .select("ts", "doc_id", F.lit(0).alias("band_idx"), "band_key")
    )


def winnow_admission_stream(stream_docs: DataFrame) -> DataFrame:
    """Streaming winnowing admission: each incoming document's selected
    fingerprints probe stateful per-fingerprint buckets and emit
    (doc_id, prior_id) candidate rows — the GUARANTEED-DETECTION
    admission arm (any verbatim overlap of >= K+W-1 chars with a
    retained prior doc shares at least one selected fingerprint, the
    local property the MinHash arm's banding can only give
    probabilistically). A consumer counts rows per (doc_id, prior_id)
    and flags pairs at the batch operator's WINNOW_MIN_SHARED
    threshold, or hands candidates to the same verify stages the other
    arms use.

    Shares _near_dup_fn VERBATIM with the MinHash arm (the
    one-implementation rule the phash kernels follow): state per
    fingerprint bucket is the FIFO-capped recent occupant list with the
    event-time TTL, so the redelivery-superset contract and both state
    bounds carry over unchanged.

    100 TB posture: the fingerprint stage is stateless and shuffle-free
    (per-row fold — doc_winnow_fp_streamside); the only shuffle per
    micro-batch is the fingerprint exchange into the stateful operator;
    state is FIFO-capped per bucket and TTL-evicted across buckets.
    Production swap: md5 -> xxhash64 fingerprints (the dedup module
    header note) — 4x narrower state rows and exchange."""
    keyed = doc_winnow_fp_streamside(stream_docs).withWatermark(
        "ts", "10 minutes"
    )
    return keyed.groupBy("band_idx", "band_key").applyInPandasWithState(
        _near_dup_fn,
        outputStructType=NEAR_DUP_CANDIDATES_SCHEMA,
        stateStructType="ids array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def media_phash_band_keys_streamside(
    stream_media: DataFrame, with_fp: bool = False
) -> DataFrame:
    """(ts, doc_id, band_idx, band_key[, fp]): per-row PERCEPTUAL band
    keys — the streaming twin of mm_phash_neardup's banding, completing
    the triad for binary payloads (batch perceptual: mm_phash_neardup;
    streaming lexical: near_dup_admission_stream; this: streaming
    perceptual). The Arrow kernel computes the dHash per row and emits
    the 8 band rows DIRECTLY (no post-kernel explode), stateless and
    shuffle-free; band values are bit-identical to the batch op
    (LSB-first 8-bit slices of (h2<<32)|h1), so a batch backfill and
    the live ingest land in the same buckets. NULL / sub-minimum
    payloads emit nothing (the fingerprintable-universe contract).
    ``with_fp`` additionally carries the full 64-bit fingerprint as a
    SIGNED long (two's complement) — the verified admission's verify
    input; the candidate path omits it so its shape stays byte-stable."""
    from datafusion_loki_spark.operators.multimodal import (
        MM_PHASH_BANDS,
        MM_PHASH_MIN_BYTES,
        phash64,
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ts_out, id_out, bidx, bkey, fp_out = [], [], [], [], []
            for ts, did, b in zip(
                pdf["ts"], pdf["doc_id"], pdf["payload"]
            ):
                if b is None or len(b) < MM_PHASH_MIN_BYTES:
                    continue
                h1, h2 = phash64(b)
                full = (h2 << 32) | h1
                if with_fp:
                    signed = (
                        full - (1 << 64) if full >= (1 << 63) else full
                    )
                for k in range(MM_PHASH_BANDS):
                    ts_out.append(ts)
                    id_out.append(int(did))
                    bidx.append(k)
                    bkey.append(str((full >> (8 * k)) & 255))
                    if with_fp:
                        fp_out.append(signed)
            if id_out:
                out = {
                    "ts": ts_out,
                    "doc_id": id_out,
                    "band_idx": bidx,
                    "band_key": bkey,
                }
                if with_fp:
                    out["fp"] = fp_out
                yield pd.DataFrame(out)

    schema = "ts timestamp, doc_id long, band_idx int, band_key string"
    if with_fp:
        schema += ", fp long"
    return stream_media.select(
        F.col("ts").cast("timestamp").alias("ts"), "doc_id", "payload"
    ).mapInPandas(kernel, schema)


def phash_admission_stream(stream_media: DataFrame) -> DataFrame:
    """Streaming PERCEPTUAL near-duplicate detection at media ingest:
    each incoming payload is checked against the recent stream via
    stateful dHash band buckets and emits (doc_id, prior_id) candidate
    rows — zero candidates across all 8 bands is a clean admit.
    Candidates are a RECALL superset (a shared band, not a verified
    hamming); the batch verify (xor + bit_count <= MM_PHASH_HAM_MAX)
    runs downstream exactly like the lexical admission's Jaccard
    verify, and the pigeonhole guarantee means no within-threshold pair
    is ever missed while both payloads are retained in the bucket FIFO.

    ``stream_media`` must carry (ts, doc_id, payload); ts drives the
    watermark. State/replay/TTL semantics are _near_dup_fn's — the
    stateful kernel is key-agnostic, so the perceptual admission
    inherits the FIFO cap, the event-time TTL re-arm, and the
    redelivery-superset contract verbatim."""
    keyed = media_phash_band_keys_streamside(stream_media).withWatermark(
        "ts", "10 minutes"
    )
    return keyed.groupBy("band_idx", "band_key").applyInPandasWithState(
        _near_dup_fn,
        outputStructType=NEAR_DUP_CANDIDATES_SCHEMA,
        stateStructType="ids array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def quality_gate_stream(
    stream_docs: DataFrame, counts: DataFrame, totals: DataFrame
) -> DataFrame:
    """The LEARNED quality gate applied AT INGEST — the deployment shape
    of text_quality_classifier: incoming documents are scored against a
    BATCH-TRAINED Naive-Bayes model (text._nb_train's artifacts — the
    per-token class counts and the 1-row totals a deployment would
    persist alongside the index), emitting per (event-time window, doc)
    the vote tallies and the majority verdict. A rejected doc never
    reaches the corpus sink; retraining is a batch job that swaps the
    static frames.

    Topology: stateless token explode -> stream-STATIC left join to the
    vocab stats (supported in every output mode; the static side is
    bounded by the trained vocabulary) -> literal-key equi-join to the
    1-row totals (stream-static CROSS joins are restricted, an equi-join
    on lit(1) is not) -> watermarked window aggregation. Per-token NB
    decisions reuse the batch scorer's exact integer comparison
    (text._NB_LHS/_NB_RHS), so the stream's verdicts are value-identical
    to the batch classifier over the same documents (batch-equivalence
    tested). ``stream_docs`` must carry (ts, doc_id, text)."""
    from datafusion_loki_spark.operators.text import (
        _NB_LHS,
        _NB_RHS,
        _NORM_SPARK,
    )

    toks = (
        stream_docs.select(
            F.col("ts").cast("timestamp").alias("ts"),
            "doc_id",
            F.explode_outer(F.expr(f"split({_NORM_SPARK}, ' ')")).alias("w"),
        )
        .where(F.col("w").isNotNull())
        .withWatermark("ts", "10 minutes")
    )
    scored = (
        toks.join(counts, "w", "left")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(totals.withColumn("_k", F.lit(1))), "_k")
        .drop("_k")
        .select(
            "ts",
            "doc_id",
            F.expr(f"IF({_NB_LHS} > {_NB_RHS}, 1, 0)").alias("v_hq"),
            F.expr(f"IF({_NB_LHS} < {_NB_RHS}, 1, 0)").alias("v_lq"),
        )
    )
    return (
        scored.groupBy(
            F.window("ts", "10 minutes").alias("win"), F.col("doc_id")
        )
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("v_hq").alias("votes_hq"),
            F.sum("v_lq").alias("votes_lq"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "doc_id",
            "n_tokens",
            "votes_hq",
            "votes_lq",
            F.when(F.col("votes_hq") > F.col("votes_lq"), 1)
            .otherwise(0)
            .cast("int")
            .alias("pred_hq"),
        )
    )


VERIFIED_NEAR_DUP_SCHEMA = (
    "band_idx int, band_key string, doc_id long, prior_id long, hamming int"
)


def phash_admission_stream_verified(stream_media: DataFrame) -> DataFrame:
    """phash_admission_stream with the IN-STREAM verify composed on
    (round-9 VERDICT #5): the state retains each bucket occupant's
    64-bit fingerprint alongside its id, and the kernel emits a pair
    ONLY when xor+bit_count(fp_a, fp_b) <= MM_PHASH_HAM_MAX — consumers
    get VERIFIED near-duplicate pairs (doc_id, prior_id, hamming), no
    downstream verify stage to remember. The pigeonhole guarantee
    carries over: while both payloads are retained in the bucket FIFO,
    every within-threshold pair shares at least one band, so the
    verified stream equals the batch op's verified pairs over the same
    arrivals (pinned by the batch-equivalence test). A pair sharing
    SEVERAL bands emits once per shared band — the same idempotent
    pair-key multiplicity the candidate stream documents; redelivery
    after FIFO eviction is a superset, never a wrong pair.

    State cost vs the candidate stream: one extra long per retained
    occupant (the fingerprint) — the payload bytes still never enter
    state or cross the shuffle."""
    keyed = media_phash_band_keys_streamside(
        stream_media, with_fp=True
    ).withWatermark("ts", "10 minutes")
    return keyed.groupBy("band_idx", "band_key").applyInPandasWithState(
        _near_dup_verified_fn,
        outputStructType=VERIFIED_NEAR_DUP_SCHEMA,
        stateStructType="ids array<bigint>, fps array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- streaming IVF index ingest ----------------------------------------------


def _ivf_ingest_batch_fn(index_dir: str):
    """The foreachBatch body of ivf_ingest_stream, exposed so tests can
    drive a replayed micro-batch directly (the exactly-once claim is a
    property of THIS function, not of the stream wiring)."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from datafusion_loki_spark.operators.similarity import (
            _NRM_E_SPARK,
            _TO_DOUBLE,
            _kmeans_assign,
            read_codebook,
            resolve_index_base,
        )

        spark_b = batch_df.sparkSession
        # resolved PER BATCH: a retrain between micro-batches commits a
        # new snapshot, and subsequent batches must land inside it (the
        # superseded base dir is dead — writing there loses the batch)
        base_dir = resolve_index_base(spark_b, index_dir)
        cents = read_codebook(spark_b, base_dir)
        batch_d = batch_df.select(
            "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
        )
        (
            _kmeans_assign(batch_d, cents)
            .select(
                "vec_id",
                F.col("cid").alias("cluster_id"),
                "e",
                F.expr(_NRM_E_SPARK.format(a="e")).alias("c_nrm"),
                F.lit(batch_id).alias("gen"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("gen", "cluster_id")
            .parquet(f"{base_dir}/members_ingest.parquet")
        )

    return _append


def ivf_ingest_stream(
    stream_vecs: DataFrame, index_dir: str, checkpoint_dir: str
) -> "StreamingQuery":  # noqa: F821 - pyspark.sql.streaming type
    """Streaming half of the IVF maintenance lifecycle (batch half:
    similarity.append_ivf_index): each micro-batch of (vec_id,
    embedding) rows is assigned through the PERSISTED codebook — one
    zero-shuffle broadcast projection, no refit — and lands in the
    ingest member table as its own ``gen=<batch_id>`` partition.

    Exactly-once despite foreachBatch's at-least-once contract: the
    write is a DYNAMIC partition overwrite keyed by the deterministic
    micro-batch id, so a replayed batch overwrites its own generation
    and converges instead of double-appending (the same idempotence
    class as rollup_to_parquet's keyed merge, but cheaper — ingest
    generations are disjoint by construction, so no read-merge is
    needed). Readers union base + ingest via ivf_members; the
    cluster_id partition level keeps probe-driven pruning effective on
    both tables. At 100 TB the per-batch cost is the batch's own rows
    (assignment is a projection; the write touches only gen=<id> dirs)
    — the codebook refit cadence stays a BATCH decision driven by the
    sim_cell_balance audit, exactly like the reference pipeline.
    Generation-count growth is bounded by the compact_ivf_ingest
    maintenance job below (fold old generations, atomic manifest
    swap)."""
    return (
        stream_vecs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_ivf_ingest_batch_fn(index_dir))
        .trigger(availableNow=True)
        .start()
    )


def ivf_members(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged member view of a maintained index: the build-time base
    table plus every LIVE streamed ingest generation — (vec_id,
    cluster_id, e, c_nrm), the contract _ivf_probe_and_score expects. A
    missing ingest table (index never streamed into) is the empty case,
    not an error.

    "Live" is defined by the compaction manifest (see
    compact_ivf_ingest): with a manifest of version N, the view is
    gen == -N (the active compacted generation) OR gen > folded_upto
    (micro-batch generations newer than the fold cutoff). Both sides are
    range predicates on the gen PARTITION column, so folded/orphaned
    generation directories are pruned at the scan, never read — which is
    also what makes a replay of an already-folded micro-batch invisible
    (its re-created gen dir sits at <= folded_upto)."""
    from datafusion_loki_spark.operators.similarity import resolve_index_base

    return ivf_members_versioned(
        spark, resolve_index_base(spark, index_dir)
    ).select("vec_id", "cluster_id", "e", "c_nrm")


def _ingest_dir(spark: SparkSession, base_dir: str):
    """The streamed-ingest table of the snapshot at ``base_dir``, with
    its compaction manifests (``manifest-v{N}.json``)."""
    from datafusion_loki_spark.functions.layout import VersionedDir

    return VersionedDir(
        spark, f"{base_dir}/members_ingest.parquet", "manifest"
    )


def ivf_members_versioned(spark: SparkSession, base_dir: str) -> DataFrame:
    """ivf_members plus the ``gen`` column (TOMBSTONE_BASE_GEN for base
    rows) — the generation-scoped view the delete path keys tombstones
    by, so a re-ingest of a deleted vec_id (a different gen) stays
    visible while the deleted copy does not (round-10 review: key-only
    tombstones swallowed re-ingests and resurrected on fold).
    ``base_dir`` is a RESOLVED snapshot dir (resolve_index_base): the
    base table, ingest generations, their manifest and the tombstone
    anti-join all come from it."""
    from datafusion_loki_spark.operators.similarity import (
        INGEST_SCHEMA,
        TOMBSTONE_BASE_GEN,
        _read_members,
        _subtract_tombstones,
    )

    cols = ["vec_id", "cluster_id", "e", "c_nrm"]
    base = (
        _read_members(spark, base_dir)
        .select(*cols)
        .withColumn("gen", F.lit(TOMBSTONE_BASE_GEN))
    )
    ingest_dir = _ingest_dir(spark, base_dir)
    state = ingest_dir.listing()
    if not state.dirs:
        # never streamed into (every BATCH lifecycle verb) or data-less:
        # no generation to read, so no scan of it either
        return _subtract_tombstones(spark, base_dir, base, versioned=True)
    ingest = spark.read.schema(INGEST_SCHEMA).parquet(ingest_dir.path)
    manifest = ingest_dir.newest(state)
    if manifest is not None:
        ingest = ingest.where(
            (F.col("gen") == manifest["active_gen"])
            | (F.col("gen") > manifest["folded_upto"])
        )
    else:
        # no manifest = never (successfully) compacted: only real
        # micro-batch generations are readable. Without this, an orphan
        # compacted partition left by a FIRST compaction that crashed
        # between its data write and its manifest write would be read
        # alongside the still-present folded generations — every folded
        # row double-counted (round-8 review). Compacted generations are
        # negative by construction, so gen >= 0 excludes exactly them.
        ingest = ingest.where(F.col("gen") >= 0)
    # pending deletes (similarity.delete_ivf_index) apply to the merged
    # view on the FULL (cluster, vec, gen) key: a tombstoned row is
    # invisible whether it sits in the base table or a live generation,
    # while a re-ingested generation of the same id stays visible; the
    # physical removal happens at the respective compaction
    return _subtract_tombstones(
        spark,
        base_dir,
        base.unionByName(ingest.select(*cols, "gen")),
        versioned=True,
    )


# --- ingest-generation compaction --------------------------------------------
#
# ivf_ingest_stream lands ONE gen=<batch_id> partition per micro-batch; at
# a real cadence that is thousands of small parquet files per cluster per
# day. compact_ivf_ingest is the periodic maintenance job that folds old
# generations into one compacted partition, copy-on-write behind the
# table's manifest (a layout.VersionedDir: listing, newest manifest,
# atomic commit and age-gated sweep are shared with the index root),
# because the in-place functions/layout.py::compact_partitions rewrite
# cannot move rows ACROSS partition values without a crash window in which
# rows exist twice:
#
# 1. fold input = the active compacted generation (if any) + every real
#    generation in (folded_upto, new_cutoff]; written to a FRESH partition
#    whose gen id is unique PER ATTEMPT (-(version * 10^9 + nonce)) so two
#    concurrent compactions can never write into the same partition — the
#    loser of the manifest race leaves an orphan dir, never clobbers the
#    winner's committed data (round-9 ADVICE);
# 2. manifest-v{N}.json is committed pointing at the new generation; before
#    it, readers see the old state exactly; after it, the new state exactly;
# 3. folded real-generation dirs, superseded compacted dirs, and stale
#    manifests are deleted — pure GC, because the reader predicate
#    (gen == active OR gen > folded_upto) already excludes them, so a
#    crash mid-GC leaves garbage bytes, never wrong results. A rerun
#    re-GCs; crashed attempts' temps go through the age-gated sweep.
#
# Replay interplay: Structured Streaming only redelivers the LAST
# uncommitted batch, but even a hypothetical replay of a FOLDED batch id
# converges — its dynamic overwrite re-creates gen=<id> at <= folded_upto,
# which the reader prunes and the next compaction GC deletes.


def _gens(listing) -> tuple[list[int], list[int]]:
    """(real, compacted) generation ids of an ingest-table listing."""
    gens = sorted(int(n[4:]) for n, _ in listing.dirs if n.startswith("gen="))
    return [g for g in gens if g >= 0], [g for g in gens if g < 0]


def compact_ivf_ingest(
    spark: SparkSession,
    index_dir: str,
    keep_last: int = 1,
    files_per_partition: int = 1,
) -> dict:
    """Fold all but the newest ``keep_last`` streamed ingest generations
    into one compacted partition (protocol above). Returns audit stats:
    folded generation count, rows in the new compacted partition, and
    parquet file counts before/after.

    ``keep_last >= 1`` keeps the redelivery window honest: the only batch
    Structured Streaming can replay is the newest (its offset commit may
    be missing after a crash), and replaying into a LIVE generation is
    the idempotent dynamic-overwrite path the ingest function already
    guarantees. At 100 TB the job's cost is the compacted partition's
    own rows (one shuffle into the gen/cluster layout) — the base index
    and live generations are never rewritten."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the redelivery window)")
    from datafusion_loki_spark.functions.layout import count_parquet_files
    from datafusion_loki_spark.operators.similarity import (
        INGEST_SCHEMA,
        resolve_index_base,
    )

    base_dir = resolve_index_base(spark, index_dir)
    ingest = _ingest_dir(spark, base_dir)
    ingest_path = ingest.path
    files_before = count_parquet_files(spark, ingest_path)
    # listed before this attempt writes anything: the temp sweep below
    # works from this snapshot only, so it can never sweep its own temp
    # nor one of an attempt that started after it
    pre = ingest.listing()
    manifest = ingest.newest(pre)
    prev_version = manifest["version"] if manifest else 0
    prev_cutoff = manifest["folded_upto"] if manifest else -1
    active_gen = manifest["active_gen"] if manifest else None
    real, _ = _gens(pre)

    def gc(state) -> None:
        state_real, state_compacted = _gens(state)
        ingest.delete(
            [f"gen={g}" for g in state_real if g <= prev_cutoff]
            + [f"gen={g}" for g in state_compacted if g != active_gen]
            + [
                ingest.manifest_name(v)
                for v in state.versions
                if v != prev_version
            ]
        )
        ingest.sweep_aged(pre.tmps)

    live = [g for g in real if g > prev_cutoff]
    fold = live[:-keep_last]
    if not fold:
        gc(pre)  # still collect leftovers from replays/crashes
        return {
            "folded_gens": 0,
            "rows_compacted": 0,
            "files_before": files_before,
            "files_after": count_parquet_files(spark, ingest_path),
            "active_gen": active_gen,
        }

    new_cutoff = fold[-1]
    new_version = prev_version + 1
    # Unique-per-attempt compacted generation id: concurrent or crashed
    # attempts each own a distinct partition, so no attempt's data write
    # can touch another's (the manifest rename remains the only commit
    # point and the only race). Encodes the version for debuggability;
    # readers never parse it — the manifest's active_gen is authoritative
    # and the no-manifest guard (gen >= 0) excludes every negative id.
    new_gen = -(new_version * 1_000_000_000 + uuid.uuid4().int % 1_000_000_000)
    src = spark.read.schema(INGEST_SCHEMA).parquet(ingest_path)
    in_fold = F.col("gen").isin(fold)
    if active_gen is not None:
        in_fold = in_fold | (F.col("gen") == active_gen)
    fold_src = src.where(in_fold)
    # tombstone fold (similarity.delete_ivf_index): pending deletes whose
    # target rows sit in the folded generations are physically dropped
    # here and their tombstones consumed after the manifest commit —
    # along with DEAD ingest-scoped tombstones (gen neither the new
    # active generation nor newer than the new cutoff: their targets
    # were folded away by a prior run that crashed before its tombstone
    # rewrite, so nothing can ever match them again). Base-scoped
    # tombstones survive for compact_ivf_members' fold.
    from datafusion_loki_spark.operators.similarity import (
        TOMBSTONE_BASE_GEN,
        _read_tombstones,
        _rewrite_tombstones,
    )

    tombs = _read_tombstones(spark, base_dir)
    consumed = None
    if tombs is not None:
        # ONE snapshot feeds the fold anti-join AND the post-commit
        # consumed sweep (round-11 ADVICE): evaluated lazily, the two
        # read the tombstone files at different moments, so a delete
        # racing this compaction could append a tombstone for a
        # generation mid-fold — the fold would miss it (its row
        # re-genned to new_gen, the gen-scoped tombstone a permanent
        # no-op) while the later sweep consumed it, silently losing the
        # delete. The snapshot makes both consumers see the same set.
        # CONCURRENCY CONTRACT (like the batch-maintenance single-writer
        # rule): deletes must NOT run concurrently with ingest
        # compaction — the tombstone rewrite below cannot see (and its
        # per-cell dynamic overwrite may clobber) a tombstone appended
        # after this snapshot.
        tombs = tombs.localCheckpoint(eager=True)
        keys = ["cluster_id", "vec_id", "gen"]
        fold_src = fold_src.join(tombs.select(*keys), keys, "left_anti")
    folded_df = (
        fold_src.drop("gen")
        .withColumn("gen", F.lit(new_gen))
        # the unique gen id means the write never touches a dir this read
        # scans, but a CONCURRENT winner's post-commit GC can delete fold
        # gens mid-job — materialize first so this attempt either holds a
        # complete copy or fails loudly here, never writes a torn one
        .localCheckpoint(eager=True)
    )
    rows = folded_df.count()
    from datafusion_loki_spark.functions.layout import write_partitioned

    write_partitioned(
        folded_df,
        ingest_path,
        partition_by=["gen", "cluster_id"],
        files_per_partition=files_per_partition,
    )
    ingest.commit(
        new_version,
        {
            "version": new_version,
            "active_gen": new_gen,
            "folded_upto": new_cutoff,
        },
    )
    # post-commit GC under the NEW manifest — gens/manifests re-listed,
    # the temp sweep still from the pre-commit listing
    prev_version, prev_cutoff, active_gen = new_version, new_cutoff, new_gen
    gc(ingest.listing())
    # AFTER the manifest commit: consume every ingest-scoped tombstone
    # that is now dead under the NEW manifest — folded this run, or left
    # by a prior run's crash window (a crash before this line leaves
    # tombstones whose rows are already gone; the read-side anti-join
    # no-ops on them and THIS predicate sweeps them next run)
    if tombs is not None:
        consumed = tombs.where(
            (F.col("gen") != TOMBSTONE_BASE_GEN)
            & ~(
                (F.col("gen") == new_gen)
                | (F.col("gen") > new_cutoff)
            )
        ).localCheckpoint(eager=True)
        _rewrite_tombstones(spark, base_dir, tombs, consumed)
    return {
        "folded_gens": len(fold),
        "rows_compacted": rows,
        "files_before": files_before,
        "files_after": count_parquet_files(spark, ingest_path),
        "active_gen": new_gen,
    }
