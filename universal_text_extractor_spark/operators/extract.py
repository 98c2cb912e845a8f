"""The extraction pipeline: one salted shuffle, then a single
``mapInPandas`` pass that dispatches each row to its content-type kernel
(D1 → SURVEY.md §2.2).

Dataflow::

    pages ──ct col (JVM sniff)──► repartition(salted xxhash64(url))  [1 shuffle]
          ──► mapInPandas dispatch (Arrow batches; every content type,
              unknown included, goes through ``extract_payload``)
          ──► extracted rows (text, ocr_used, success, error, logs, extract_us)

Scale design notes:
- The salted repartition is the only Exchange, and the dispatch stage reads
  its output exactly once (locked by
  tests/test_pipeline.py::test_fused_single_stage_plan). Routing in Python
  per row, not by a filter per content type + union, is deliberate: such a
  fan-out re-reads the shuffle once per branch and measured 1.4-4× slower
  at every scale.
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` should be lowered for
  large html blobs (SURVEY.md §4.3); see plans/pipeline.py defaults.

The per-row kernel work happens in ``kernels.dispatch.extract_payload`` —
the same function the pytest oracle calls, so pipeline output is
byte-identical to the oracle by construction.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.sniff import content_type_col
from ..kernels.dispatch import extract_payload

DEFAULT_SALT = 0x5EED

RESULT_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("ocr_used", BooleanType()),
        StructField("success", BooleanType()),
        StructField("error", StringType()),
        StructField("logs", ArrayType(StringType())),
        StructField("extract_us", LongType()),
    ]
)

EXTRACTED_COLUMNS = (
    "url", "content_type", "partition_id", "input_bytes",
    "text", "ocr_used", "success", "error", "logs", "extract_us",
)


def salted_url_partition_key(url: Column, salt: int = DEFAULT_SALT) -> Column:
    """xxhash64(url, salt) — breaks host-level skew (Zipfian hosts) because
    the full url + salt is hashed, never the host (north rule; SURVEY.md
    §7.2 skew note)."""
    return F.xxhash64(url, F.lit(salt))


def extract_pages_fused(
    pages: DataFrame,
    num_partitions: int | None = None,
    salt: int = DEFAULT_SALT,
    use_ocr: bool = False,
    main_content: bool = False,
    ocr_language: str = "eng",
    handwriting_mode: bool = False,
    legacy_office: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, …) → extracted DataFrame
    (EXTRACTED_COLUMNS + extracted_at). One salted shuffle, then one
    ``mapInPandas`` stage dispatches each Arrow batch row by row through
    ``extract_payload``, so every row is byte-identical to the kernel
    oracle (locked by tests/test_pipeline.py::test_pipeline_byte_identity).

    ``use_ocr=True`` runs the K13 glyph recognizer on image payloads (the
    D8 consequent — reference extract_text_from_file's use_ocr flag);
    default False preserves the metadata-only image path and the locked
    goldens. ``main_content=True`` swaps the HTML kernel to Readability-style
    boilerplate removal (north-star extension; all other types unchanged).
    ``ocr_language``, ``handwriting_mode`` and ``legacy_office`` pass
    through to ``extract_payload`` unchanged.

    Column pruning matters here: only (url, html, content_type) cross the
    shuffle and the Arrow boundary; everything else is recomputed or
    attached after.
    """
    spark = pages.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    typed = pages.withColumn(
        "content_type", content_type_col(F.col("url"), F.col("html"))
    ).select("url", "html", "content_type")
    base = typed.repartition(n_parts, salted_url_partition_key(F.col("url"), salt))

    out_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("content_type", StringType()),
            StructField("partition_id", LongType()),
            StructField("input_bytes", LongType()),
        ]
        + RESULT_SCHEMA.fields
    )

    def dispatch(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for pdf in batches:
            rows = []
            for u, payload, ct in zip(
                pdf["url"], pdf["html"], pdf["content_type"]
            ):
                t0 = time.perf_counter_ns()
                text, ocr_used, success, error, logs = extract_payload(
                    u, payload, ct, use_ocr=use_ocr, main_content=main_content,
                    ocr_language=ocr_language,
                    handwriting_mode=handwriting_mode,
                    legacy_office=legacy_office,
                )
                rows.append(
                    (
                        u, ct, pid, len(payload) if payload is not None else 0,
                        text, ocr_used, success, error, logs,
                        (time.perf_counter_ns() - t0) // 1000,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    fused = base.mapInPandas(dispatch, out_schema)
    return fused.withColumn("extracted_at", F.current_timestamp())


def lineage_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage rows (north-star metrics table; replaces the
    reference's per-document SQLite INSERT, utils/database.py:215-250):
    partition id, input byte totals/range, doc count, failure count,
    extraction latency. Aggregated map-side (partial agg) — one tiny shuffle.
    """
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("input_bytes").alias("input_bytes"),
            F.min("input_bytes").alias("byte_range_start"),
            F.max("input_bytes").alias("byte_range_end"),
            F.sum(F.when(~F.col("success"), 1).otherwise(0)).alias("failure_count"),
            F.sum(F.when(F.col("ocr_used"), 1).otherwise(0)).alias("ocr_count"),
            (F.sum("extract_us") / F.lit(1_000_000.0)).alias("extraction_latency"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("ts", F.current_timestamp())
    )
