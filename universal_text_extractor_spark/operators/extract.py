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
- A caller that extracts several url-hash buckets in one job passes
  ``keep_bucket``: the int ``bucket`` then crosses the shuffle too and
  comes out as a column. With a ``lineage`` accumulator as well, the same
  tasks report lineage stats per (bucket, partition), so a caller that
  writes the output gets each bucket's lineage rows without a second job
  over it (plans/pipeline.py).
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` should be lowered for
  large html blobs (SURVEY.md §4.3); scripts/run_pipeline.py and
  scripts/run_corpus.py set it to 256.

The per-row work happens in ``kernels.dispatch.detect_content_type`` and
``extract_payload`` — the functions the pytest oracle calls, so pipeline
output is byte-identical to the oracle by construction.
"""

from __future__ import annotations

import time
from operator import add

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
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

# with ``keep_bucket`` the dispatch passes the input's bucket through
_BUCKETED_SCHEMA = StructType(
    _OUT_SCHEMA.fields + [StructField("bucket", IntegerType())]
)

# the dispatch's output batches, column for column as _OUT_SCHEMA
_ARROW_SCHEMA = to_arrow_schema(_OUT_SCHEMA)
_BUCKETED_ARROW_SCHEMA = to_arrow_schema(_BUCKETED_SCHEMA)

# per-partition stats the dispatch reports to a ``lineage`` accumulator,
# in this order; lineage_metrics computes the same numbers as a Spark
# aggregate (extract_us becomes extraction_latency in seconds)
LINEAGE_STATS = (
    "doc_count", "input_bytes", "byte_range_start", "byte_range_end",
    "failure_count", "ocr_count", "extract_us",
)
# each stat as the (column, aggregate) of one output batch that gives it,
# and how two batches' values of it combine
_STATS_AGGS = (
    ("input_bytes", "count"), ("input_bytes", "sum"), ("input_bytes", "min"),
    ("input_bytes", "max"), ("failed", "sum"), ("ocr_used", "sum"),
    ("extract_us", "sum"),
)
_STATS_MERGE = (add, add, min, max, add, add, add)


def _add_batch_stats(stats: dict, out: pa.RecordBatch) -> None:
    """Fold one output batch's ``LINEAGE_STATS`` into ``stats``, keyed by
    bucket: one Arrow group-by per batch, outside the row loop."""
    table = pa.Table.from_batches([out]).append_column(
        "failed", pc.invert(out.column("success"))
    )
    for row in table.group_by("bucket").aggregate(list(_STATS_AGGS)).to_pylist():
        new = [row[f"{c}_{a}"] for c, a in _STATS_AGGS]
        old = stats.get(row["bucket"])
        stats[row["bucket"]] = new if old is None else [
            f(x, y) for f, x, y in zip(_STATS_MERGE, old, new)
        ]


class PartitionStatsParam(AccumulatorParam):
    """Accumulator of ``{(bucket, partition_id): [LINEAGE_STATS values]}``,
    merged by key with overwrite, not sum: every task attempt reports its
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
    keep_bucket: bool = False,
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
    runs the extraction instead of a second aggregate job. The stats are
    keyed ``(bucket, partition_id)``, so ``lineage`` requires
    ``keep_bucket``.

    ``keep_bucket=True`` requires an int ``bucket`` column in ``pages``:
    it crosses the shuffle with (url, html), is emitted as the output's
    ``bucket`` column, and splits the lineage stats per bucket, so one
    job can extract several buckets that are committed one by one.

    Column pruning matters here: only (url, html), plus the bucket when
    asked for, cross the shuffle and the Arrow boundary; everything else
    is computed in the dispatch or attached after.
    """
    if lineage is not None and not keep_bucket:
        raise ValueError("lineage stats are keyed by bucket: pass keep_bucket=True")
    spark = pages.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cols = ["url", "html", "bucket"] if keep_bucket else ["url", "html"]
    base = pages.select(*cols).repartition(
        n_parts, salted_url_partition_key(F.col("url"))
    )
    out_schema, arrow_schema = (
        (_BUCKETED_SCHEMA, _BUCKETED_ARROW_SCHEMA)
        if keep_bucket
        else (_OUT_SCHEMA, _ARROW_SCHEMA)
    )

    def dispatch(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        stats: dict = {}
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
            columns = (
                cts, [pid] * len(sizes), sizes, texts, ocrs, oks, errors,
                logs, us,
            )
            out = pa.RecordBatch.from_arrays(
                [urls]
                + [
                    pa.array(c, t)
                    for c, t in zip(columns, _ARROW_SCHEMA.types[1:])
                ]
                + ([batch.column("bucket")] if keep_bucket else []),
                schema=arrow_schema,
            )
            if lineage is not None and sizes:
                _add_batch_stats(stats, out)
            yield out
        if lineage is not None and stats:
            lineage.add({(b, pid): v for b, v in stats.items()})

    fused = base.mapInArrow(dispatch, out_schema)
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
