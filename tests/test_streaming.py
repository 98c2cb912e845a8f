"""Streaming extraction: availableNow micro-batch over a parquet file
source, exactly-once resume via checkpoint, byte-identity vs batch."""

from __future__ import annotations

from universal_text_extractor_spark.operators.extract import extract_pages_fused
from universal_text_extractor_spark.sources.pages_gen import generate_pages_df
from universal_text_extractor_spark.streaming import (
    stream_extract_pages,
    windowed_metrics,
)

N = 200


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages_df(spark, N, partitions=4)
    pages.write.parquet(src)

    q = stream_extract_pages(spark, src, out, ckpt, num_partitions=4)
    q.awaitTermination(300)

    got = {r["url"]: r["text"] for r in spark.read.parquet(out).collect()}
    want = {
        r["url"]: r["text"]
        for r in extract_pages_fused(spark.read.parquet(src), num_partitions=4).collect()
    }
    assert got == want

    # arrival of new files → only the delta is processed on restart
    generate_pages_df(spark, 50, partitions=2, ).write.mode("append").parquet(src)
    q2 = stream_extract_pages(spark, src, out, ckpt, num_partitions=4)
    q2.awaitTermination(300)
    total = spark.read.parquet(out).count()
    assert total == N + 50  # no reprocessing of the first N (exactly-once)


def test_windowed_metrics_batch_semantics(spark):
    # windowed agg is testable on a static frame (same expression tree)
    pages = generate_pages_df(spark, 300, partitions=2)
    m = windowed_metrics(pages).collect()
    assert sum(r["doc_count"] for r in m) == 300
    assert all(r["window_end"] > r["window_start"] for r in m)


def test_stream_dedup_urls(spark, tmp_path):
    """Cross-micro-batch url dedup with bounded (watermarked) state."""
    from universal_text_extractor_spark.streaming import stream_dedup_urls

    src = str(tmp_path / "dsrc")
    pages = generate_pages_df(spark, 80, partitions=2)
    pages.write.parquet(src)                      # batch 1
    pages.write.mode("append").parquet(src)       # batch 2: exact dupes

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    # watermark wider than the generator's 10-day event-time span: if the
    # file source interleaves the two writes into one batch, fresh urls
    # must not fall below the watermark and be dropped as late (flake
    # guard; ADVICE.md r01)
    deduped = stream_dedup_urls(stream, watermark="30 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT count(DISTINCT url) c, count(*) n FROM dedup_out").collect()[0]
    assert got["n"] == 80 and got["c"] == 80  # every duplicate dropped


def test_late_row_lands_in_event_time_window(spark, tmp_path):
    """Watermarked event-time windowed agg under availableNow restart: a
    row arriving in run 2 with an OLD event time (later than nothing in
    arrival order, earlier than everything in event time — but within the
    watermark) must merge into its original window, and that window must
    finalize with the late row counted."""
    import datetime as dt

    from universal_text_extractor_spark.streaming import windowed_metrics

    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    out = str(tmp_path / "wout")

    def _rows(ts_counts):
        return spark.createDataFrame(
            [
                (f"https://h/{ts}-{i}", dt.datetime.fromisoformat(ts), b"x" * 10,
                 "t", "en")
                for ts, n in ts_counts
                for i in range(n)
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    def _run():
        stream = spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        ).parquet(src)
        q = (
            windowed_metrics(stream, window="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # run 1: two rows in the 10:00 window + a clock-mover at 11:30.
    # watermark after run 1 = 11:30 − 1 day → nothing finalizes yet.
    _rows([("2026-01-02 10:00:00", 1), ("2026-01-02 10:30:00", 1),
           ("2026-01-02 11:30:00", 1)]).write.parquet(src)
    _run()

    # run 2 (restart from checkpoint): a LATE row whose event time falls in
    # the already-open 10:00 window, plus a mover 2 days ahead that pushes
    # the watermark past every window end so they all finalize.
    _rows([("2026-01-02 10:45:00", 1), ("2026-01-04 12:00:00", 1)]).write.mode(
        "append"
    ).parquet(src)
    _run()

    got = {
        r["window_start"].isoformat(): r["doc_count"]
        for r in spark.read.parquet(out).collect()
    }
    # the 10:00 window holds BOTH run-1 rows AND the late run-2 row
    assert got.get("2026-01-02T10:00:00") == 3, got
    assert got.get("2026-01-02T11:00:00") == 1, got


def test_host_running_totals_stateful(spark, tmp_path):
    """applyInPandasWithState totals accumulate across micro-batches."""
    from pyspark.sql import functions as F

    from universal_text_extractor_spark.streaming import host_running_totals

    src = str(tmp_path / "ssrc")
    pages = generate_pages_df(spark, 100, partitions=1)
    pages.write.parquet(src)
    pages.write.mode("append").parquet(src)  # same pages again → totals 2x

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        .option("maxFilesPerTrigger", 1)   # force multiple micro-batches
        .parquet(src)
    )
    q = (
        host_running_totals(stream)
        .writeStream.format("memory")
        .queryName("host_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # latest state per host must equal 2x the batch totals
    want = {
        r["host"]: (2 * r["c"], 2 * r["b"])
        for r in pages.groupBy(
            F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host")
        )
        .agg(F.count("*").alias("c"), F.sum(F.length("html")).alias("b"))
        .collect()
    }
    rows = spark.sql(
        "SELECT host, max(doc_count) doc_count, max(total_bytes) total_bytes "
        "FROM host_totals GROUP BY host"
    ).collect()
    got = {r["host"]: (r["doc_count"], r["total_bytes"]) for r in rows}
    assert got == want


def test_stream_sessions_merge_across_restart(spark, tmp_path):
    """Session windows on a stream: a session left open in run 1 absorbs a
    run-2 event inside the gap, and finalizes (append emit) only once the
    watermark passes its end — one merged session row, not two."""
    import datetime as dt

    from universal_text_extractor_spark.streaming import stream_user_sessions

    src = str(tmp_path / "sessrc")
    ckpt = str(tmp_path / "sessckpt")
    out = str(tmp_path / "sessout")

    def _rows(items):
        return spark.createDataFrame(
            [(u, dt.datetime.fromisoformat(ts)) for u, ts in items],
            "user_id string, ts timestamp",
        )

    def _run():
        stream = spark.readStream.schema("user_id string, ts timestamp").parquet(src)
        q = (
            stream_user_sessions(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # run 1: two events 10 min apart (one session) + a mover that keeps the
    # watermark (1 h) below the session end → stays open, nothing emits
    _rows([("u1", "2026-01-02 10:00:00"), ("u1", "2026-01-02 10:10:00"),
           ("u9", "2026-01-02 10:50:00")]).write.parquet(src)
    _run()

    # run 2 (restart): an event at 10:20 falls INSIDE u1's open session
    # (gap 30 min from 10:10) and must merge; the far mover finalizes all
    _rows([("u1", "2026-01-02 10:20:00"), ("u9", "2026-01-02 15:00:00")]).write.mode(
        "append"
    ).parquet(src)
    _run()

    got = {
        (r["user_id"], r["session_start"].isoformat()): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got.get(("u1", "2026-01-02T10:00:00")) == 3, got  # merged, not split
    assert ("u1", "2026-01-02T10:20:00") not in got  # no second u1 session


def test_stream_sessions_equal_batch_sessions(spark, tmp_path):
    """VERDICT r2 item 7: batch w5 (analytics.user_sessions) and
    stream_user_sessions implement the SAME gaps-and-islands semantics —
    drive both over one real events corpus and require identical
    (user_id, session_start, session_end, n_events) row sets."""
    from pyspark.sql import functions as F

    from universal_text_extractor_spark.operators.analytics import user_sessions
    from universal_text_extractor_spark.streaming import stream_user_sessions

    # the parquet carries TIMESTAMP_NTZ; streaming watermarks require
    # TIMESTAMP — cast once, used identically by both sides
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in user_sessions(events).collect()
    }

    src = str(tmp_path / "eqsrc")
    ckpt = str(tmp_path / "eqckpt")
    out = str(tmp_path / "eqout")
    events.write.parquet(src)
    # watermark flusher: append-mode sessions only finalize once the GLOBAL
    # watermark passes their end — one far-future row for a sentinel user
    # pushes it past every real session (its own session stays open and is
    # excluded below)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    flusher_id = -12345
    spark.createDataFrame(
        [(flusher_id, max_ts, 0.0)], events.schema
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream_user_sessions(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] != flusher_id
    }
    assert got == want


def test_host_col_pathless_urls(spark):
    """r5 review batch 3: path-less URLs (https://example.com — no
    trailing slash) must yield their real host, not '' — the old pattern
    collapsed every root-URL page of every domain into one state key."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from universal_text_extractor_spark.streaming.stateful import host_col

    rows = spark.createDataFrame(
        [
            Row(url="https://example.com"),
            Row(url="https://example.com/"),
            Row(url="https://other.org/a/b.html"),
            Row(url="http://example.com:8080"),
        ]
    ).select(host_col(F.col("url")).alias("h")).collect()
    assert [r["h"] for r in rows] == [
        "example.com", "example.com", "other.org", "example.com:8080",
    ]


def test_one_host_rule_corpus_and_stream(spark, tmp_path):
    """The corpus ``source`` column and the streaming per-host state key
    run one rule (functions.text_funcs.host_col): any scheme, and a
    path-less url keeps its host. The streaming key once matched only
    http(s), so every ftp url fell into the '' host."""
    from universal_text_extractor_spark.plans.corpus import frame_documents
    from universal_text_extractor_spark.streaming import host_running_totals

    urls = ["ftp://h/x", "https://h"]
    extracted = spark.createDataFrame(
        [(u, True, f"doc {i}") for i, u in enumerate(urls)],
        "url string, success boolean, text string",
    )
    sources = {r["url"]: r["source"] for r in frame_documents(extracted).collect()}
    assert sources == {"ftp://h/x": "h", "https://h": "h"}

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(u, None, b"abc", "", "en") for u in urls], schema
    ).write.parquet(src)
    q = (
        host_running_totals(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("host_rule_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql(
        "SELECT host, max(doc_count) n FROM host_rule_totals GROUP BY host"
    ).collect()
    assert {r["host"]: r["n"] for r in rows} == {"h": 2}
