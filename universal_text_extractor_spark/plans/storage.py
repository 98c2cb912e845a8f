"""Storage backend seam for the resumable extraction pipeline
(VERDICT r2 item 9: make the "swap parquet for Iceberg" claim an
implementable interface instead of a comment).

The pipeline's data plane goes through exactly these operations; the
default :class:`ParquetStorage` implements them as plain parquet +
``_manifest``/``_staged`` directories (the documented no-Iceberg-runtime
fallback, SURVEY.md §7.0). An Iceberg backend implements the same
protocol:

=====================  ==================================  ==========================================
operation              parquet form                        Iceberg form
=====================  ==================================  ==========================================
stage_pages            Spark write, partitionBy bucket     CTAS / REPLACE a staging table by bucket
stage_is_committed     the stage's ``_SUCCESS`` exists     the staging table exists in the catalog
read_stage             spark.read (pruned by bucket)       SELECT * FROM stage (pruned by bucket)
write_bucket           Spark write to ``bucket=b``         writeTo(tbl).overwritePartitions()
read_bucket            spark.read of ``bucket=b``          SELECT ... WHERE bucket = b
append_metrics         driver: pyarrow write + dir swap    writeTo(metrics).overwritePartitions()
append_manifest        driver: one file, write + rename    writeTo(manifest).append()
read_manifest_buckets  driver: pyarrow read                SELECT DISTINCT bucket FROM manifest
drop_stage             rm -r ``_staged``                   DROP TABLE stage
=====================  ==================================  ==========================================

``read_bucket`` is not on the commit path: the pipeline takes each
bucket's lineage rows from its extraction job, not from a read-back. It
stays on the protocol for readers of one bucket (``storage_smoke``, the
resume tests, the benchmark's timing proxy).

``append_metrics`` takes the lineage rows the pipeline has already
built on the driver, as an Arrow table. The parquet backend keeps
them there: the metrics and manifest rows of a bucket are a handful of
rows, so they are written with ``pyarrow`` and published by rename, not
as Spark jobs. The extracted data itself always moves through Spark.

The crash-safety argument is unchanged: each bucket's publish order is
data → metrics → manifest, and only the manifest row marks a bucket done.
The n_buckets pin and the input fingerprint stay in
:mod:`~universal_text_extractor_spark.plans.pipeline` — with Iceberg they
become table properties, with parquet they are local control files (which
is why the parquet backend is local-FS-only)."""

from __future__ import annotations

import os
import shutil
from typing import Protocol

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class StorageBackend(Protocol):
    """The data-plane contract run_extraction needs from a warehouse."""

    def stage_pages(self, pages_with_bucket: DataFrame, out_dir: str) -> None: ...

    def stage_is_committed(self, out_dir: str) -> bool: ...

    def read_stage(self, spark: SparkSession, out_dir: str) -> DataFrame: ...

    def write_bucket(self, extracted: DataFrame, out_dir: str, bucket: int) -> None: ...

    def read_bucket(self, spark: SparkSession, out_dir: str, bucket: int) -> DataFrame: ...

    def append_metrics(
        self, spark: SparkSession, metrics: pa.Table, out_dir: str
    ) -> None: ...

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

    def write_bucket(self, extracted: DataFrame, out_dir: str, bucket: int) -> None:
        extracted.write.mode("overwrite").parquet(
            f"{out_dir}/extracted/bucket={bucket}"
        )

    def read_bucket(self, spark: SparkSession, out_dir: str, bucket: int) -> DataFrame:
        return spark.read.parquet(f"{out_dir}/extracted/bucket={bucket}")

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
        path = f"{out_dir}/metrics"
        flat = [
            os.path.join(path, e)
            for e in (os.listdir(path) if os.path.isdir(path) else [])
            if not e.startswith((".", "_", "bucket="))
        ]
        if flat:
            # a retention delete-ALL publishes a FLAT schema-bearing empty
            # table (an empty partitioned write has no files and is
            # unreadable) — clear it before re-introducing hive layout,
            # but never silently discard a non-empty flat table
            if any(pq.ParquetFile(f).metadata.num_rows for f in flat):
                raise ValueError(
                    f"{path} holds a non-partitioned, non-empty metrics "
                    "table — refusing to mix layouts"
                )
            shutil.rmtree(path)
        for b in pc.unique(metrics["bucket"]).to_pylist():
            rows = metrics.filter(pc.equal(metrics["bucket"], b))
            live = f"{path}/bucket={b}"
            tmp, old = f"{path}/.tmp-bucket={b}", f"{path}/.old-bucket={b}"
            # leftovers of a crash inside an earlier publish of this bucket
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            os.makedirs(tmp)
            # hive layout: the partition value lives in the dir name only
            pq.write_table(
                rows.drop_columns(["bucket"]), f"{tmp}/part-00000.snappy.parquet"
            )
            # swap: retire the live dir, promote the new one, drop the old.
            # A crash between the renames leaves no live dir for this
            # bucket; the bucket is still pending, so its re-run publishes
            # again
            if os.path.exists(live):
                os.rename(live, old)
            os.rename(tmp, live)
            shutil.rmtree(old, ignore_errors=True)

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
    re-commit of a crashed bucket), metrics/manifest appends are snapshot
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
        from pyspark.sql import functions as F

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
        self, extracted: DataFrame, out_dir: str, bucket: int
    ) -> None:
        from pyspark.sql import functions as F

        spark = extracted.sparkSession
        self._ensure_ns(spark)
        tbl = self._tbl(out_dir, "extracted")
        df = extracted.withColumn("bucket", F.lit(bucket))
        if spark.catalog.tableExists(tbl):
            df.writeTo(tbl).overwritePartitions()
        else:
            df.writeTo(tbl).using("iceberg").partitionedBy(
                F.col("bucket")
            ).create()

    def read_bucket(
        self, spark: SparkSession, out_dir: str, bucket: int
    ) -> DataFrame:
        from pyspark.sql import functions as F

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
            from pyspark.sql import functions as F

            (
                metrics.writeTo(tbl)
                .using("iceberg")
                .partitionedBy(F.col("bucket"))
                .create()
            )

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
