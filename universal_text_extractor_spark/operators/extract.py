"""The extraction pipeline: one salted shuffle, then a single
``mapInArrow`` pass that sniffs each row's content type and dispatches it
to its kernel (D1 → SURVEY.md §2.2).

Dataflow::

    pages(url, html) ──► repartition(salted xxhash64(url))  [1 shuffle]
          ──► mapInArrow dispatch (Arrow batches; per row
              ``detect_content_type`` then ``extract_payload``, unknown
              types included)
          ──► extracted rows (content_type, text, ocr_used, success,
              error, logs, extract_us)

Scale design notes:
- The salted repartition is the only Exchange, only (url, html) cross it,
  and the dispatch stage reads its output exactly once (locked by
  tests/test_pipeline.py::test_fused_single_stage_plan). Routing in Python
  per row, not by a filter per content type + union, is deliberate: such a
  fan-out re-reads the shuffle once per branch and measured 1.4-4× slower
  at every scale.
- The dispatch reads and writes Arrow batches directly: no pandas frame on
  either side of the Python boundary, and no driver-built JVM sniff
  expression in the plan.
- With a ``lineage`` accumulator the same tasks report per-partition
  lineage stats, so a caller that writes the output gets its lineage rows
  without a second job over it (plans/pipeline.py).
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` should be lowered for
  large html blobs (SURVEY.md §4.3); scripts/run_pipeline.py and
  scripts/run_corpus.py set it to 256.

The per-row work happens in ``kernels.dispatch.detect_content_type`` and
``extract_payload`` — the functions the pytest oracle calls, so pipeline
output is byte-identical to the oracle by construction.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.dispatch import detect_content_type, extract_payload
from ..kernels.options import ExtractOptions

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

_OUT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("content_type", StringType()),
        StructField("partition_id", LongType()),
        StructField("input_bytes", LongType()),
    ]
    + RESULT_SCHEMA.fields
)

# the dispatch's output batches, column for column as _OUT_SCHEMA
_ARROW_SCHEMA = to_arrow_schema(_OUT_SCHEMA)

# per-partition stats the dispatch reports to a ``lineage`` accumulator,
# in this order; lineage_metrics computes the same numbers as a Spark
# aggregate (extract_us becomes extraction_latency in seconds)
LINEAGE_STATS = (
    "doc_count", "input_bytes", "byte_range_start", "byte_range_end",
    "failure_count", "ocr_count", "extract_us",
)


class PartitionStatsParam(AccumulatorParam):
    """Accumulator of ``{partition_id: [LINEAGE_STATS values]}``, merged by
    partition id with overwrite, not sum: every task attempt reports its
    whole partition, so a retried, speculative or recomputed attempt
    replaces the first report instead of counting the partition twice."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, value1: dict, value2: dict) -> dict:
        value1.update(value2)
        return value1


def salted_url_partition_key(url: Column) -> Column:
    """xxhash64(url, DEFAULT_SALT) — breaks host-level skew (Zipfian hosts)
    because the full url + salt is hashed, never the host (north rule;
    SURVEY.md §7.2 skew note)."""
    return F.xxhash64(url, F.lit(DEFAULT_SALT))


def extract_pages_fused(
    pages: DataFrame,
    num_partitions: int | None = None,
    options: ExtractOptions = ExtractOptions(),
    lineage: Accumulator | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, …) → extracted DataFrame
    (_OUT_SCHEMA's columns + extracted_at). One salted shuffle, then one
    ``mapInArrow`` stage sniffs and dispatches each Arrow batch row by row
    through ``detect_content_type`` and ``extract_payload``, so every row
    is byte-identical to the kernel oracle (locked by
    tests/test_pipeline.py::test_pipeline_byte_identity).

    ``options`` (:class:`~..kernels.options.ExtractOptions`) passes
    through to ``extract_payload`` unchanged; the defaults keep the
    metadata-only image path and the locked goldens.

    ``lineage`` is an accumulator made with :class:`PartitionStatsParam`,
    or None. When set, each task that emits rows adds its partition's
    lineage stats (``LINEAGE_STATS``, from the same values it emits), so
    the caller gets :func:`lineage_metrics`'s numbers from the job that
    runs the extraction instead of a second aggregate job.

    Column pruning matters here: only (url, html) cross the shuffle and
    the Arrow boundary; everything else is computed in the dispatch or
    attached after.
    """
    spark = pages.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    base = pages.select("url", "html").repartition(
        n_parts, salted_url_partition_key(F.col("url"))
    )

    def dispatch(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        docs = nbytes = hi = failed = ocr = kernel_us = 0
        lo = float("inf")
        for batch in batches:
            urls = batch.column("url")
            payloads = batch.column("html").to_pylist()
            cts, sizes, texts, ocrs, oks, errors, logs, us = (
                [] for _ in range(8)
            )
            for u, payload in zip(urls.to_pylist(), payloads):
                ct = detect_content_type(u, payload)
                t0 = time.perf_counter_ns()
                text, ocr_used, success, error, log = extract_payload(
                    u, payload, ct, options
                )
                us.append((time.perf_counter_ns() - t0) // 1000)
                cts.append(ct)
                sizes.append(len(payload) if payload is not None else 0)
                texts.append(text)
                ocrs.append(ocr_used)
                oks.append(success)
                errors.append(error)
                logs.append(log)
            if sizes:
                lo, hi = min(lo, min(sizes)), max(hi, max(sizes))
            docs += len(sizes)
            nbytes += sum(sizes)
            failed += oks.count(False)
            ocr += ocrs.count(True)
            kernel_us += sum(us)
            columns = (
                cts, [pid] * len(sizes), sizes, texts, ocrs, oks, errors,
                logs, us,
            )
            yield pa.RecordBatch.from_arrays(
                [urls] + [
                    pa.array(c, t)
                    for c, t in zip(columns, _ARROW_SCHEMA.types[1:])
                ],
                schema=_ARROW_SCHEMA,
            )
        if lineage is not None and docs:
            lineage.add({pid: [docs, nbytes, lo, hi, failed, ocr, kernel_us]})

    fused = base.mapInArrow(dispatch, _OUT_SCHEMA)
    return fused.withColumn("extracted_at", F.current_timestamp())


def lineage_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage rows (north-star metrics table; replaces the
    reference's per-document SQLite INSERT, utils/database.py:215-250):
    partition id, input byte totals/range, doc count, failure count,
    extraction latency. Aggregated map-side (partial agg) — one tiny shuffle.

    This is the Spark formulation over any extracted DataFrame.
    ``run_extraction`` publishes the same rows from the extraction tasks'
    ``lineage`` accumulator instead, and tests hold the two equal.
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
