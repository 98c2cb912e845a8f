"""Structured-Streaming extraction variant.

The reference is strictly batch (SURVEY.md §2.5) and the north star keeps
batch + snapshot resume as the primary design; this module is the
*incremental-arrival* complement: a parquet file-source stream of pages →
the same single-pass dispatch as batch extraction (``extract_pages_fused``)
→ checkpointed parquet sink.
``trigger(availableNow=True)`` gives exactly-once, restartable batch-over-
stream semantics (the streaming twin of plans/pipeline.py's manifest).

Also provides a watermarked event-time windowed metrics aggregation —
the streaming version of the A7 daily trend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages_fused
from ..sources.pages_gen import PAGES_SCHEMA


def stream_extract_pages(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    num_partitions: int = 8,
):
    """Start (and return) a streaming query extracting newly-arrived page
    files. Restart with the same checkpoint dir → resumes exactly-once."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    extracted = extract_pages_fused(pages, num_partitions=num_partitions)
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_metrics(pages_stream: DataFrame, window: str = "1 day") -> DataFrame:
    """Watermarked event-time windowed doc counts over warc_ts (streaming
    A7): late data beyond 1 day is dropped deterministically."""
    return (
        pages_stream.withWatermark("warc_ts", "1 day")
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.length("html")).alias("input_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "doc_count",
            "input_bytes",
        )
    )
