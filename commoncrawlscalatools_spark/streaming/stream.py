"""Streaming operators over the `events` table.

The reference is batch-with-resume (SURVEY.md §2.10) — its "streaming"
surface is the Parser iterator + rate monitor. The new engine adds real
Structured Streaming equivalents for the metrics/rate-monitoring layer:
tumbling-window aggregation (the analog of the reference's rolling parse-
rate window, Parser.scala:92-176) and gap sessionization. Each operator
has a batch twin with identical semantics so correctness is oracle-
checkable; the streaming wrapper drives the same plan incrementally.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def windowed_event_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window per-type counts/sums (batch twin)."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_event_agg_streaming(
    spark: SparkSession, events_path: str, width: str = "1 hour"
) -> DataFrame:
    """Same plan driven as a stream (file source → memory sink), with a
    watermark for late data; returns the materialized result."""
    schema = spark.read.parquet(events_path).schema
    src = events_path
    if os.path.isfile(events_path):
        # the file stream source requires a directory — stage a symlink
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(os.path.abspath(events_path), os.path.join(d, os.path.basename(events_path)))
        src = d
    stream = spark.readStream.schema(schema).parquet(src)
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC so
    # the cast is value-preserving
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    name = "windowed_event_agg_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "start_epoch long, end_epoch long, sum_value double, open boolean"
)
SESSION_STATE_SCHEMA = (
    "last_ts long, session_id long, n_events long, start_ts long, sum_value double"
)


def sessionize_stateful_streaming(
    spark: SparkSession, events_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """TRUE stateful streaming sessionization via applyInPandasWithState
    (the north rule's custom-stateful-operator surface): per-user session
    state (last event time, open-session aggregates) lives in the state
    store and carries ACROSS micro-batches — a session spanning two batches
    closes with the correct totals. Each batch emits closed sessions plus a
    snapshot of the still-open session (update mode); snapshots only grow,
    so the latest (max n_events) row per (user, session) is the truth.

    Requires per-user event-time order across batches (the file source
    delivers files in order; the test splits by a time boundary). At scale
    the same function runs over Kafka with a watermark-driven timeout
    closing idle sessions (GroupStateTimeout.EventTimeTimeout)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    schema = spark.read.parquet(events_dir).schema

    def fn(key, pdfs, state):
        user_id = key[0]
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        if state.exists:
            last_ts, sid, n, start_ts, sv = state.get
        else:
            last_ts, sid, n, start_ts, sv = None, 0, 0, None, 0.0
        out = []
        # state times are epoch microseconds: truncating to whole seconds
        # would merge a 1800.4 s gap into one 30-minute session; the output
        # epochs are whole seconds
        micros = rows["ts"].to_numpy("datetime64[us]").astype("int64").tolist()
        values = rows["value"].tolist()
        for t, v in zip(micros, values):
            if last_ts is None or t - last_ts > gap_us:
                if n > 0:
                    out.append((user_id, sid, n, start_ts // 1_000_000,
                                last_ts // 1_000_000, sv, False))
                sid += 1
                n, start_ts, sv = 0, t, 0.0
            n += 1
            sv += float(v)
            last_ts = t
        state.update((last_ts, sid, n, start_ts, sv))
        if n > 0:  # snapshot of the open session
            out.append((user_id, sid, n, start_ts // 1_000_000,
                        last_ts // 1_000_000, sv, True))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_id", "n_events",
                "start_epoch", "end_epoch", "sum_value", "open",
            ],
        )

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        events_dir
    )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    result = stream.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    name = "sessionize_stateful_out"
    q = result.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user: session starts where the gap from
    the previous event exceeds `gap_minutes`; session_id = cumulative count
    of session starts (lag + running sum — one shuffle on user_id)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microseconds, not whole seconds: a 1800.4 s gap must open a new
    # 30-minute session (NTZ-safe cast, UTC session)
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    is_start = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    with_start = events.withColumn("is_start", is_start)
    sess = F.sum("is_start").over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        with_start.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def dedup_docs_streaming(
    spark: SparkSession,
    src: str,
    schema: str,
    name: str = "dedup_stream",
    watermark: str = "1 hour",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup over an incoming document stream: first
    arrival per content hash survives; later identical payloads are
    dropped. The incremental analog of `dedup.exact_dedup` (one hash
    aggregate in batch) for continuous ingestion, where a batch re-scan
    per micro-batch is impossible.

    Scale note (100 TB/endless crawl): `dropDuplicatesWithinWatermark`
    keys state by the 32-char md5 digest and EVICTS keys older than the
    event-time watermark, so state is bounded by the watermark horizon ×
    arrival rate — a plain dropDuplicates would grow state forever. The
    cross-horizon guarantee stays with the batch operator / the URL-seen
    table; this stage kills the burst duplicates (mirrors, retries,
    refetches) before they ever hit storage. Batch-twin equivalence is
    pinned in tests/test_streaming.py."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = (
        stream.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)
