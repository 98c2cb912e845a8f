"""Storage backend seam for the resumable extraction pipeline
(VERDICT r2 item 9: make the "swap parquet for Iceberg" claim an
implementable interface instead of a comment).

The pipeline's data plane goes through exactly these operations; the
default :class:`ParquetStorage` implements them as plain parquet +
``_manifest``/``_staged`` directories (the documented no-Iceberg-runtime
fallback, SURVEY.md §7.0). An Iceberg backend implements the same
protocol:

=====================  ======================================  ==========================================
operation              parquet form                            Iceberg form
=====================  ======================================  ==========================================
stage_pages            Spark write, partitionBy bucket         CTAS / REPLACE a staging table by bucket
stage_is_committed     the stage's ``_SUCCESS`` exists         the staging table exists in the catalog
read_stage             spark.read (pruned by bucket)           SELECT * FROM stage (pruned by bucket)
write_bucket           a group's rows: partitionBy bucket,     writeTo(tbl).overwritePartitions()
                       dynamic overwrite of their buckets
read_bucket            spark.read (pruned to ``bucket=b``)     SELECT ... WHERE bucket = b
append_metrics         driver: pyarrow write + dir swap        writeTo(metrics).overwritePartitions()
delete_metrics_before  driver: pyarrow read + dir swap         DELETE FROM metrics WHERE ts < cutoff
append_manifest        driver: one file, write + rename        writeTo(manifest).append()
read_manifest_buckets  driver: pyarrow read                    SELECT DISTINCT bucket FROM manifest
drop_stage             rm -r ``_staged``                       DROP TABLE stage
=====================  ======================================  ==========================================

``write_bucket`` takes one commit group's extracted rows, which carry
their ``bucket``, and replaces exactly those buckets: the pipeline
extracts a group of small buckets in one Spark job, then commits them
one by one.

``read_bucket`` is not on the commit path: the pipeline takes each
bucket's lineage rows from its group's extraction job, not from a
read-back. It stays on the protocol for readers of one bucket
(``storage_smoke``, the resume tests, the benchmark's timing proxy).

``append_metrics`` takes the lineage rows the pipeline has already
built on the driver, as an Arrow table. The parquet backend keeps
them there: the metrics and manifest rows of a bucket are a handful of
rows, so they are written with ``pyarrow`` and published by rename, not
as Spark jobs. The extracted data itself always moves through Spark.

``delete_metrics_before`` is the retention delete (reference
``cleanup_old_data``, utils/database.py:583-621): with Iceberg one
snapshot-atomic ``DELETE``; with parquet a driver-side read of the
metrics table that republishes only the buckets losing rows, through
the same per-bucket swap ``append_metrics`` uses. A bucket that loses
every row keeps a zero-row file, so the table stays bucket-partitioned
and readable.

The crash-safety argument is unchanged: each bucket's publish order is
data → metrics → manifest, and only the manifest row marks a bucket done.
What a resume must match (n_buckets, extraction options, input
fingerprint) is not a storage operation: it is the run record that
:mod:`~universal_text_extractor_spark.plans.pipeline` keeps as one local
file, ``out_dir/_run.json``, for EVERY backend (Iceberg included) — which
is why ``run_extraction`` rejects a non-local out_dir whichever backend
it is given."""

from __future__ import annotations

import os
import shutil
from datetime import datetime
from typing import Protocol
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the metrics table's rows: lineage_metrics' columns plus the bucket, with
# the types and nullability its Spark aggregate gives them
METRICS_SCHEMA = pa.schema(
    [
        pa.field("partition_id", pa.int64()),
        pa.field("doc_count", pa.int64(), nullable=False),
        pa.field("input_bytes", pa.int64()),
        pa.field("byte_range_start", pa.int64()),
        pa.field("byte_range_end", pa.int64()),
        pa.field("failure_count", pa.int64()),
        pa.field("ocr_count", pa.int64()),
        pa.field("extraction_latency", pa.float64()),
        pa.field("run_id", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("bucket", pa.int32(), nullable=False),
    ]
)


def _session_instant(spark: SparkSession, ts: str) -> datetime:
    """``ts`` as the instant ``CAST(ts AS TIMESTAMP)`` gives: a string
    without an offset is wall time in ``spark.sql.session.timeZone``.
    Parsed in Python (a Spark literal would cost a job); raises
    ``ValueError`` on a string ``datetime.fromisoformat`` cannot read."""
    t = datetime.fromisoformat(ts)
    if t.tzinfo is not None:
        return t
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        tz = ZoneInfo(zone)
    except (KeyError, ValueError):  # a zone offset such as "+08:00"
        tz = datetime.fromisoformat(f"2000-01-01T00:00{zone}").tzinfo
    return t.replace(tzinfo=tz)


class StorageBackend(Protocol):
    """The data-plane contract run_extraction needs from a warehouse."""

    def stage_pages(self, pages_with_bucket: DataFrame, out_dir: str) -> None: ...

    def stage_is_committed(self, out_dir: str) -> bool: ...

    def read_stage(self, spark: SparkSession, out_dir: str) -> DataFrame: ...

    def write_bucket(
        self, extracted: DataFrame, out_dir: str, buckets: list[int]
    ) -> None: ...

    def read_bucket(self, spark: SparkSession, out_dir: str, bucket: int) -> DataFrame: ...

    def append_metrics(
        self, spark: SparkSession, metrics: pa.Table, out_dir: str
    ) -> None: ...

    def delete_metrics_before(
        self, spark: SparkSession, out_dir: str, cutoff_ts: str
    ) -> int: ...

    def append_manifest(
        self, spark: SparkSession, out_dir: str, bucket: int, run_id: str
    ) -> None: ...

    def read_manifest_buckets(self, spark: SparkSession, out_dir: str) -> list[int]: ...

    def drop_stage(self, out_dir: str) -> None: ...


class ParquetStorage:
    """Default backend: plain parquet + ``_manifest`` + ``_staged``
    (partitionBy bucket) under ``out_dir`` on the LOCAL filesystem.

    The data plane (stage, bucket write and read) runs as Spark jobs.
    The control plane (metrics, manifest) runs on the driver with
    ``pyarrow``: each publish writes into a ``.``-prefixed path, which
    Spark's file index and ``pyarrow`` datasets both skip, then renames it
    into place. A crash mid-publish therefore leaves only hidden
    leftovers, never a partial visible table."""

    @staticmethod
    def _staged(out_dir: str) -> str:
        return f"{out_dir}/_staged"

    @staticmethod
    def _manifest(out_dir: str) -> str:
        return f"{out_dir}/_manifest"

    def stage_pages(self, pages_with_bucket: DataFrame, out_dir: str) -> None:
        pages_with_bucket.write.mode("overwrite").partitionBy("bucket").parquet(
            self._staged(out_dir)
        )

    def stage_is_committed(self, out_dir: str) -> bool:
        # parquet writes publish a _SUCCESS marker on commit; a crash
        # mid-stage leaves the dir without it → restage
        return os.path.exists(os.path.join(self._staged(out_dir), "_SUCCESS"))

    def read_stage(self, spark: SparkSession, out_dir: str) -> DataFrame:
        return spark.read.parquet(self._staged(out_dir))

    def write_bucket(
        self, extracted: DataFrame, out_dir: str, buckets: list[int]
    ) -> None:
        # one partitioned write with dynamic partition overwrite: it
        # replaces exactly the buckets in the rows and leaves every other
        # bucket=b dir as is. It stages its files in a hidden
        # .spark-staging-<job> dir, which a driver killed mid-write leaves
        # behind for good; no other write into extracted/ runs now, so
        # drop every such leftover first
        path = f"{out_dir}/extracted"
        if os.path.isdir(path):
            for e in os.listdir(path):
                if e.startswith(".spark-staging-"):
                    shutil.rmtree(f"{path}/{e}")
        extracted.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(path)

    def read_bucket(self, spark: SparkSession, out_dir: str, bucket: int) -> DataFrame:
        # through the table, pruned to bucket=b: a group's partitioned
        # write makes no dir for a bucket that holds no page
        return (
            spark.read.parquet(f"{out_dir}/extracted")
            .filter(F.col("bucket") == bucket)
            .drop("bucket")
        )

    @staticmethod
    def _metrics(out_dir: str) -> str:
        return f"{out_dir}/metrics"

    @staticmethod
    def _heal_metrics(path: str) -> None:
        """Undo what a crash inside a bucket publish left behind. Between
        its two renames ``bucket=b`` is missing and ``.old-bucket=b`` holds
        the bucket's last published rows: restore them. Any other
        ``.tmp-``/``.old-`` leftover is an unpublished or retired copy:
        drop it, never promote it."""
        if not os.path.isdir(path):
            return
        for e in os.listdir(path):
            if not e.startswith((".tmp-bucket=", ".old-bucket=")):
                continue
            live = f"{path}/{e.split('-', 1)[1]}"
            if e.startswith(".old-") and not os.path.exists(live):
                os.rename(f"{path}/{e}", live)
            else:
                shutil.rmtree(f"{path}/{e}")

    @staticmethod
    def _publish_bucket(path: str, b: int, rows: pa.Table) -> None:
        """Replace ``path/bucket=b`` with ``rows`` (hive layout: the
        bucket lives in the dir name only, never in the file). The rows
        are written into a hidden dir, then swapped in: retire the live
        dir, promote the new one, drop the old. Run
        :meth:`_heal_metrics` first."""
        live = f"{path}/bucket={b}"
        tmp, old = f"{path}/.tmp-bucket={b}", f"{path}/.old-bucket={b}"
        os.makedirs(tmp)
        pq.write_table(rows, f"{tmp}/part-00000.snappy.parquet")
        if os.path.exists(live):
            os.rename(live, old)
        os.rename(tmp, live)
        shutil.rmtree(old, ignore_errors=True)

    def append_metrics(
        self, spark: SparkSession, metrics: pa.Table, out_dir: str
    ) -> None:
        # per-bucket REPLACE, as dynamic partition overwrite did:
        # re-publishing a bucket's metrics after crash-resume must not
        # append a duplicate set. The crash window is real: publish order is
        # data → metrics → manifest, so dying between the last two leaves
        # the bucket pending — it re-runs, and a plain append would
        # double-count that bucket in every metrics consumer forever
        # (r5 review, batch 3)
        path = self._metrics(out_dir)
        self._heal_metrics(path)
        for b in pc.unique(metrics["bucket"]).to_pylist():
            rows = metrics.filter(pc.equal(metrics["bucket"], b))
            self._publish_bucket(path, b, rows.drop_columns(["bucket"]))

    def delete_metrics_before(
        self, spark: SparkSession, out_dir: str, cutoff_ts: str
    ) -> int:
        # rows with ts < cutoff go, and, as in a Spark filter, NULL ts too
        path = self._metrics(out_dir)
        self._heal_metrics(path)
        schema = METRICS_SCHEMA.remove(METRICS_SCHEMA.get_field_index("bucket"))
        ts_type = schema.field("ts").type
        cutoff = pa.scalar(_session_instant(spark, cutoff_ts), ts_type)
        deleted = 0
        for e in sorted(os.listdir(path)):
            if not e.startswith("bucket="):
                continue
            # the casts: a Spark-written bucket stores ts as INT96, which
            # reads as a zoneless timestamp[ns], and carries Spark metadata
            rows = pq.read_table(f"{path}/{e}")
            keep = pc.greater_equal(rows["ts"].cast(ts_type), cutoff)
            kept = rows.filter(keep).cast(schema)
            if kept.num_rows < rows.num_rows:
                deleted += rows.num_rows - kept.num_rows
                b = int(e.removeprefix("bucket="))
                self._publish_bucket(path, b, kept)
        return deleted

    def append_manifest(
        self, spark: SparkSession, out_dir: str, bucket: int, run_id: str
    ) -> None:
        d = self._manifest(out_dir)
        os.makedirs(d, exist_ok=True)
        name = f"part-{bucket}-{run_id}.parquet"
        row = pa.table(
            {
                "bucket": pa.array([bucket], pa.int32()),
                "run_id": pa.array([run_id], pa.string()),
            }
        )
        # write-then-rename: the bucket is committed by the rename, so a
        # crash mid-write leaves only a hidden file and the bucket pending
        pq.write_table(row, f"{d}/.{name}.tmp")
        os.replace(f"{d}/.{name}.tmp", f"{d}/{name}")

    def read_manifest_buckets(self, spark: SparkSession, out_dir: str) -> list[int]:
        # probe the path instead of swallowing every read error: a corrupt
        # manifest or transient FS failure must RAISE, not masquerade as a
        # fresh run and silently re-extract (and double-append metrics for)
        # the whole job (r5 review, batch 3)
        d = self._manifest(out_dir)
        if not os.path.isdir(d) or all(
            e.startswith((".", "_")) for e in os.listdir(d)
        ):
            return []  # first run: no committed bucket yet
        # the dataset reader skips ``.``/``_`` names: in-flight temp files,
        # and the _SUCCESS/.crc side files of Spark-written manifests
        buckets = pq.read_table(d, columns=["bucket"])["bucket"]
        return sorted(set(buckets.to_pylist()))

    def drop_stage(self, out_dir: str) -> None:
        shutil.rmtree(self._staged(out_dir), ignore_errors=True)


DEFAULT_STORAGE = ParquetStorage()


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath (the
    sandbox ships none — tests auto-skip; SURVEY §4.3)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — jar probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergStorage:
    """Iceberg implementation of the seam (r3 verdict item #4) — each
    protocol op is the snapshot-atomic form tabulated in the module
    docstring. Requires a session configured with an Iceberg catalog::

        spark.sql.catalog.<catalog> = org.apache.iceberg.spark.SparkCatalog
        (+ iceberg-spark-runtime on the classpath; see iceberg_available)

    Iceberg addresses TABLES, not paths, so ``out_dir`` (an arbitrary run
    key) maps to a table-name prefix ``run_<sha1(out_dir)[:12]>_`` under
    ``catalog.namespace``. Crash-safety mapping: write_bucket is
    ``overwritePartitions`` on a bucket-partitioned table (idempotent
    re-commit of a crashed group), metrics/manifest appends are snapshot
    commits, and drop_stage is a catalog DROP."""

    def __init__(self, catalog: str = "iceberg", namespace: str = "utes"):
        self.catalog = catalog
        self.namespace = namespace

    # -- naming ------------------------------------------------------------
    def _tbl(self, out_dir: str, name: str) -> str:
        import hashlib

        key = hashlib.sha1(out_dir.encode()).hexdigest()[:12]
        return f"{self.catalog}.{self.namespace}.run_{key}_{name}"

    @staticmethod
    def _active_spark() -> SparkSession:
        s = SparkSession.getActiveSession()
        if s is None:
            raise RuntimeError("IcebergStorage needs an active SparkSession")
        return s

    def _ensure_ns(self, spark: SparkSession) -> None:
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )

    def _append(self, df: DataFrame, tbl: str) -> None:
        spark = df.sparkSession
        self._ensure_ns(spark)
        if spark.catalog.tableExists(tbl):
            df.writeTo(tbl).append()
        else:
            df.writeTo(tbl).using("iceberg").create()

    # -- protocol ------------------------------------------------------------
    def stage_pages(self, pages_with_bucket: DataFrame, out_dir: str) -> None:
        self._ensure_ns(pages_with_bucket.sparkSession)
        (
            pages_with_bucket.writeTo(self._tbl(out_dir, "staged"))
            .using("iceberg")
            .partitionedBy(F.col("bucket"))
            .createOrReplace()
        )

    def stage_is_committed(self, out_dir: str) -> bool:
        return self._active_spark().catalog.tableExists(
            self._tbl(out_dir, "staged")
        )

    def read_stage(self, spark: SparkSession, out_dir: str) -> DataFrame:
        return spark.read.table(self._tbl(out_dir, "staged"))

    def write_bucket(
        self, extracted: DataFrame, out_dir: str, buckets: list[int]
    ) -> None:
        spark = extracted.sparkSession
        self._ensure_ns(spark)
        tbl = self._tbl(out_dir, "extracted")
        # the rows carry their bucket: overwritePartitions replaces exactly
        # the buckets they hold
        if spark.catalog.tableExists(tbl):
            extracted.writeTo(tbl).overwritePartitions()
        else:
            extracted.writeTo(tbl).using("iceberg").partitionedBy(
                F.col("bucket")
            ).create()

    def read_bucket(
        self, spark: SparkSession, out_dir: str, bucket: int
    ) -> DataFrame:
        return (
            spark.read.table(self._tbl(out_dir, "extracted"))
            .filter(F.col("bucket") == bucket)
            .drop("bucket")
        )

    def append_metrics(
        self, spark: SparkSession, metrics: pa.Table, out_dir: str
    ) -> None:
        # same idempotence contract as ParquetStorage: per-bucket partition
        # overwrite, so a crash-resume re-publish replaces rather than
        # duplicates the bucket's rows
        metrics = spark.createDataFrame(metrics)
        self._ensure_ns(spark)
        tbl = self._tbl(out_dir, "metrics")
        if spark.catalog.tableExists(tbl):
            metrics.writeTo(tbl).overwritePartitions()
        else:
            (
                metrics.writeTo(tbl)
                .using("iceberg")
                .partitionedBy(F.col("bucket"))
                .create()
            )

    def delete_metrics_before(
        self, spark: SparkSession, out_dir: str, cutoff_ts: str
    ) -> int:
        tbl = self._tbl(out_dir, "metrics")
        before = spark.read.table(tbl).count()
        spark.sql(f"DELETE FROM {tbl} WHERE ts < TIMESTAMP '{cutoff_ts}'")
        return before - spark.read.table(tbl).count()

    def append_manifest(
        self, spark: SparkSession, out_dir: str, bucket: int, run_id: str
    ) -> None:
        df = spark.createDataFrame(
            [(bucket, run_id)], "bucket int, run_id string"
        )
        self._append(df, self._tbl(out_dir, "manifest"))

    def read_manifest_buckets(
        self, spark: SparkSession, out_dir: str
    ) -> list[int]:
        tbl = self._tbl(out_dir, "manifest")
        if not spark.catalog.tableExists(tbl):
            return []
        return sorted(
            r["bucket"]
            for r in spark.read.table(tbl).select("bucket").distinct().collect()
        )

    def drop_stage(self, out_dir: str) -> None:
        self._active_spark().sql(
            f"DROP TABLE IF EXISTS {self._tbl(out_dir, 'staged')}"
        )
