"""Structured Streaming twin must match the batch plan exactly."""

from pyspark.sql import functions as F

from commoncrawlscalatools_spark.streaming.stream import (
    sessionize,
    windowed_event_agg,
    windowed_event_agg_streaming,
)


def test_streaming_matches_batch(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_agg(events).collect()
    }
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_agg_streaming(
            spark, f"{sf_dir}/events.parquet"
        ).collect()
    }
    assert batch == streamed and len(batch) > 0


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 100, "c", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=10), 100, "c", 2.0, "{}"),
        (3, base + dt.timedelta(minutes=50), 100, "c", 3.0, "{}"),  # gap > 30m → new session
        (4, base, 200, "c", 4.0, "{}"),
        # a 1800.4 s gap exceeds 30 minutes even though the whole-second
        # timestamps differ by exactly 1800
        (5, base + dt.timedelta(milliseconds=100), 300, "c", 5.0, "{}"),
        (6, base + dt.timedelta(minutes=30, milliseconds=500), 300, "c", 6.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert out == {(100, 1): 2, (100, 2): 1, (200, 1): 1, (300, 1): 1, (300, 2): 1}


def test_stateful_streaming_sessionize_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization must equal the batch twin even
    when sessions SPAN micro-batches: events split into two files at the
    median timestamp, maxFilesPerTrigger=1 forces two batches, per-user
    state carries the open session across the boundary."""
    import glob
    import shutil

    from commoncrawlscalatools_spark.streaming.stream import (
        sessionize,
        sessionize_stateful_streaming,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    with_epoch = events.withColumn(
        "te", F.col("ts").cast("timestamp").cast("long")
    )
    median = with_epoch.approxQuantile("te", [0.5], 0.0)[0]
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    for i, part in enumerate(
        (
            with_epoch.filter(F.col("te") <= median).drop("te"),
            with_epoch.filter(F.col("te") > median).drop("te"),
        )
    ):
        tmp_out = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        src = glob.glob(tmp_out + "/part-*.parquet")[0]
        shutil.copy(src, str(stream_dir / f"{i:03d}.parquet"))

    got = sessionize_stateful_streaming(spark, str(stream_dir), gap_minutes=30)
    # snapshots only grow: latest state of each (user, session) = max n_events
    latest = {}
    for r in got.collect():
        k = (r["user_id"], r["session_id"])
        if k not in latest or r["n_events"] > latest[k]["n_events"]:
            latest[k] = r
    stream_sessions = {
        k: (r["n_events"], r["start_epoch"], r["end_epoch"], round(r["sum_value"], 6))
        for k, r in latest.items()
    }

    batch = sessionize(events, gap_minutes=30)
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    batch_sessions = {
        (r["user_id"], r["session_id"]): (
            r["n_events"], r["se"], r["ee"], round(r["sum_value"], 6)
        )
        for r in batch.select(
            "user_id", "session_id", "n_events", "sum_value",
            epoch("session_start").alias("se"), epoch("session_end").alias("ee"),
        ).collect()
    }
    assert stream_sessions == batch_sessions


def test_streaming_exact_dedup_matches_batch_twin(spark, tmp_path):
    """dedup_docs_streaming keeps exactly one survivor per content hash
    (within the watermark horizon) — same survivor-set cardinality and
    hash set as batch exact_dedup over the union of micro-batches."""
    import pandas as pd

    from commoncrawlscalatools_spark.operators.dedup import exact_dedup
    from commoncrawlscalatools_spark.streaming.stream import dedup_docs_streaming

    src = str(tmp_path / "docs_stream")
    base = pd.Timestamp("2026-01-01 10:00:00")
    batches = [
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["alpha", "beta", "alpha"],
                "ts": [base, base, base + pd.Timedelta(minutes=1)],
            }
        ),
        pd.DataFrame(
            {
                "doc_id": [4, 5, 6],
                "text": ["beta", "gamma", "alpha"],
                "ts": [
                    base + pd.Timedelta(minutes=2),
                    base + pd.Timedelta(minutes=3),
                    base + pd.Timedelta(minutes=4),
                ],
            }
        ),
    ]
    for i, pdf in enumerate(batches):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            f"{src}/b{i}", mode="overwrite"
        )
    # flatten the two batch dirs into one source dir of parquet files
    import glob
    import shutil

    for i in range(2):
        for j, f in enumerate(sorted(glob.glob(f"{src}/b{i}/*.parquet"))):
            shutil.copy(f, f"{src}/{i:02d}_{j}.parquet")
        shutil.rmtree(f"{src}/b{i}")

    got = dedup_docs_streaming(
        spark, src, "doc_id long, text string, ts timestamp",
        name="dedup_stream_t",
    )
    rows = got.select("content_hash", "text").collect()
    hashes = sorted(r["content_hash"] for r in rows)
    assert len(rows) == 3  # alpha, beta, gamma — one survivor each
    batch_all = spark.createDataFrame(pd.concat(batches))
    batch_surv = exact_dedup(batch_all, "text", "doc_id")
    batch_hashes = sorted(
        r["h"] for r in batch_surv.select(F.md5("text").alias("h")).collect()
    )
    assert hashes == batch_hashes
