"""Checkpointed, resumable extraction runs (north-star resumability;
SURVEY.md §4.3 "Resumable checkpointing").

Iceberg snapshots are the production design; this environment has no
Iceberg runtime jar, so the documented fallback (SURVEY.md §7.0) is used:
plain Parquet + a ``_manifest`` table of committed work units, with the
SAME anti-join resume logic an Iceberg MERGE would use. The data plane
goes through the :class:`~.storage.StorageBackend` seam (VERDICT r2 item
9) — :class:`~.storage.ParquetStorage` is the default; an Iceberg backend
implements the same nine operations as table/snapshot calls (the mapping
is tabulated in ``storage.py``) without touching the resume algorithm.

Unit of commit: a url-hash *bucket* (``pmod(xxhash64(url, salt), n_buckets)``).
Each bucket commits atomically: extracted parquet first, then metrics, then
the manifest row — a crash between leaves an orphan data dir that the next
run simply overwrites (write-then-publish). The manifest records EVERY
bucket id 0..n_buckets-1 (empty ones too), so a completed run's re-invoke
is a pure manifest read — the reference's batch loop
(text_extractor_api.py:142-159) replaced by restartable partition-parallel
units.

Input is scanned ONCE per run: the pending pages are staged to
``out_dir/_staged`` written ``partitionBy("bucket")``, and every per-bucket
commit then reads only its own ``bucket=b`` directory (partition pruning —
locked by tests/test_resume.py::test_staged_commit_prunes_partitions).
The earlier formulation filtered ``xxhash64(url)%n`` per bucket against the
raw input, which nothing can push down: n_buckets full scans of the input
(~10^3 scans of 100 TB at the design point) — the resume mechanism itself
was the scale-killer. Staging costs one extra write of the pending set,
amortized across every commit and every resume (a crashed run's stage is
reused, not rebuilt). With Iceberg the stage is a MERGE-managed scratch
table; the _SUCCESS check below is the snapshot-commit check.

Scale: n_buckets bounds the blast radius of a failure (work lost ≤ 1/n of
the job), and each bucket is itself partition-parallel inside
``extract_pages_fused``.
At 10^12 docs: n_buckets ~ 10^3, bucket ~ 10^9 docs.

Per bucket, the only Spark job is the one whose cost grows with the
data: the extraction + bucket write. Its tasks also report each
partition's lineage stats into an accumulator (``extract_pages_fused``'s
``lineage``), merged by partition id with overwrite so a retried or
recomputed task attempt cannot count twice. The driver builds the
bucket's metrics rows from those stats — the rows ``lineage_metrics``
would aggregate over the written bucket — and the metrics and manifest
publishes that follow are driver-side file writes of those few rows (see
``storage.py``), not further Spark jobs. Accumulators need a classic
(py4j) session; Spark Connect has none.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import (
    LINEAGE_STATS,
    PartitionStatsParam,
    extract_pages_fused,
)
from .storage import DEFAULT_STORAGE, StorageBackend

BUCKET_SALT = 0xC0FFEE

# the metrics table's rows: lineage_metrics' columns plus the bucket, with
# the types and nullability its Spark aggregate gives them
_METRICS_SCHEMA = pa.schema(
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


def _require_local_out_dir(out_dir: str) -> None:
    """The commit-protocol control files (n_buckets pin, _SUCCESS probes,
    publish renames, stage cleanup) use local-FS primitives. On a remote
    URI (hdfs://, s3a://…) those would silently no-op: the pin would never
    engage — so resuming with a LARGER n_buckets would silently skip
    never-extracted buckets — and stage reuse/cleanup would misbehave.
    ``file://`` is rejected too: Spark resolves the URI but the os-level
    control files would treat it as a literal relative path (a junk
    ``./file:`` tree), splitting the pin from the data — pass the plain
    path instead. Hard-fail instead of degrading (ADVICE r2 #1). The
    production target is Iceberg, where every one of these checks is a
    catalog/snapshot operation and this guard disappears with the parquet
    fallback."""
    if "://" in out_dir:
        raise ValueError(
            f"out_dir {out_dir!r} is not a plain local filesystem path; "
            "the parquet-fallback commit protocol requires one (for "
            "file:// URIs pass the bare path) — use the Iceberg storage "
            "backend for remote warehouses"
        )


@dataclasses.dataclass
class ExtractionRun:
    run_id: str
    committed_buckets: list[int]
    skipped_buckets: list[int]
    rows_written: int
    wall_secs: float


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url"), F.lit(BUCKET_SALT)), F.lit(n_buckets)).cast(
        "int"
    )


def _rm_f(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _metrics_table(stats: dict, run_id: str, bucket: int) -> pa.Table:
    """One bucket's metrics rows, built on the driver from the
    ``{partition_id: [LINEAGE_STATS values]}`` its extraction tasks
    reported: the rows ``lineage_metrics`` aggregates from the written
    bucket, ``ts`` aside."""
    ts = datetime.now(timezone.utc)
    return pa.Table.from_pylist(
        [
            {
                "partition_id": pid,
                **dict(zip(LINEAGE_STATS[:-1], values[:-1])),
                "extraction_latency": values[-1] / 1_000_000.0,
                "run_id": run_id,
                "ts": ts,
                "bucket": bucket,
            }
            for pid, values in sorted(stats.items())
        ],
        schema=_METRICS_SCHEMA,
    )


def committed_buckets(
    spark: SparkSession, out_dir: str, storage: StorageBackend = DEFAULT_STORAGE
) -> list[int]:
    return storage.read_manifest_buckets(spark, out_dir)


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    num_partitions: int | None = None,
    run_id: str | None = None,
    fail_after_buckets: int | None = None,
    fail_between_metrics_and_manifest: bool = False,
    use_ocr: bool = False,
    main_content: bool = False,
    legacy_office: bool = False,
    ocr_language: str = "eng",
    handwriting_mode: bool = False,
    storage: StorageBackend = DEFAULT_STORAGE,
) -> ExtractionRun:
    """Execute (or resume) an extraction run over ``pages`` into
    ``out_dir/extracted`` + ``out_dir/metrics``. Re-invoking after a crash
    continues from the last committed bucket; completed runs are no-ops.

    ``fail_after_buckets`` injects a crash after N commits (resume tests).
    Each bucket runs :func:`extract_pages_fused` with a ``lineage``
    accumulator, so ``spark`` must be a classic (py4j) session:
    accumulators do not exist under Spark Connect.
    """
    t0 = time.time()
    _require_local_out_dir(out_dir)
    run_id = run_id or uuid.uuid4().hex[:12]
    # bucket ids in the manifest AND the stage are functions of n_buckets:
    # resuming the same out_dir with a different n would silently mis-cover
    # (old manifest rows mark new ids done that were never extracted under
    # the new numbering). Pin n_buckets per out_dir and refuse a mismatch.
    meta = os.path.join(out_dir, "_n_buckets")
    pinned: int | None = None
    if os.path.exists(meta):
        try:
            with open(meta) as f:
                pinned = int(f.read().strip())
        except ValueError:
            pinned = None  # crash mid-write truncated the pin → re-pin below
    if pinned is not None and pinned != n_buckets:
        raise ValueError(
            f"out_dir was created with n_buckets={pinned}; resuming with "
            f"{n_buckets} would silently skip work — pass n_buckets="
            f"{pinned} or use a fresh out_dir"
        )
    done = set(committed_buckets(spark, out_dir, storage))
    if pinned is None:
        # unpinned dir (truncated pin or created pre-pinning) with
        # committed buckets: the original n_buckets is unknowable, so ANY
        # resume could mis-cover — the old max(done) >= n_buckets check
        # only caught dirs built under a LARGER bucket universe and let a
        # smaller-universe dir re-pin to the new count, silently skipping
        # the low bucket ids' unextracted urls (r5 review, batch 3)
        if done:
            raise ValueError(
                f"out_dir has committed bucket ids {sorted(done)} but no "
                "n_buckets pin; its original bucket count is unknowable, "
                "so resuming could silently mis-cover — use a fresh out_dir"
            )
        os.makedirs(out_dir, exist_ok=True)
        # atomic pin: write-then-rename so a crash never leaves a truncated
        # file that bricks every later resume
        with open(meta + ".tmp", "w") as f:
            f.write(str(n_buckets))
        os.replace(meta + ".tmp", meta)
    pending_buckets = [b for b in range(n_buckets) if b not in done]

    if not pending_buckets:  # completed run: pure manifest read, no input scan
        # a crash after the final manifest commit but before stage cleanup
        # would otherwise leave the orphan copy forever
        storage.drop_stage(out_dir)
        _rm_f(os.path.join(out_dir, "_staged_input_fp"))
        return ExtractionRun(
            run_id=run_id,
            committed_buckets=[],
            skipped_buckets=sorted(done),
            rows_written=0,
            wall_secs=time.time() - t0,
        )

    # ONE scan of the input per run: stage the pages bucketed, written
    # partitionBy("bucket"), so each commit below reads only bucket=b via
    # partition pruning. A crashed run's committed stage is reused (safe:
    # n_buckets is pinned per out_dir above, and the pages INPUT is assumed
    # immutable between crash and resume — the Iceberg-snapshot assumption
    # the module docstring states); an uncommitted stage (_SUCCESS missing)
    # is rebuilt.
    # input-identity fingerprint (ADVICE r2 #2): the logical plan of the
    # pages DataFrame, hashed. Cheap (no scan), and a caller that resumes
    # with a DIFFERENT input (other path, other filter) almost certainly
    # changes the plan. Mismatch warns rather than refuses — plan strings
    # may legitimately differ across sessions (UDF object reprs, view
    # names) while the data is the same snapshot.
    import hashlib
    import warnings

    try:
        plan_fp: str | None = hashlib.sha256(
            pages._jdf.queryExecution().logical().toString().encode()
        ).hexdigest()
    except Exception:
        # _jdf is py4j-only (absent under Spark Connect); the fingerprint
        # is advisory — skip it rather than fail the run
        plan_fp = None
    fp_file = os.path.join(out_dir, "_staged_input_fp")
    if not storage.stage_is_committed(out_dir):
        storage.stage_pages(
            pages.withColumn("bucket", _bucket_col(n_buckets)), out_dir
        )
        if plan_fp is not None:
            with open(fp_file + ".tmp", "w") as f:
                f.write(plan_fp)
            os.replace(fp_file + ".tmp", fp_file)
    else:
        # committed stage → the passed `pages` DataFrame is NOT re-read;
        # the crashed run's staged snapshot is. Say so, and flag a caller
        # that appears to be passing a different input on resume.
        old_fp = None
        if os.path.exists(fp_file):
            with open(fp_file) as f:
                old_fp = f.read().strip()
        if old_fp is not None and plan_fp is not None and old_fp != plan_fp:
            warnings.warn(
                f"resuming {out_dir}: the staged input snapshot from the "
                "crashed run is being reused, but the `pages` DataFrame "
                "passed now has a different logical plan than the one "
                "staged — if the input genuinely changed, use a fresh "
                "out_dir (the staged snapshot wins)",
                stacklevel=2,
            )
    staged = storage.read_stage(spark, out_dir)

    committed: list[int] = []
    rows_written = 0
    for i, b in enumerate(pending_buckets):
        if fail_after_buckets is not None and i >= fail_after_buckets:
            raise RuntimeError(
                f"injected failure after {fail_after_buckets} buckets (run {run_id})"
            )
        # partition-pruned: only the bucket=b directory of the stage is read
        chunk = staged.filter(F.col("bucket") == b).drop("bucket")
        # the extraction tasks report their partitions' lineage stats into
        # this accumulator, so the bucket write is the commit's only job
        lineage = spark.sparkContext.accumulator({}, PartitionStatsParam())
        extracted = extract_pages_fused(
            chunk, num_partitions=num_partitions, use_ocr=use_ocr,
            main_content=main_content, ocr_language=ocr_language,
            handwriting_mode=handwriting_mode, legacy_office=legacy_office,
            lineage=lineage,
        )
        # write-then-publish: data, metrics, manifest — in that order
        storage.write_bucket(extracted, out_dir, b)
        metrics = _metrics_table(lineage.value, run_id, b)
        if metrics.num_rows:
            storage.append_metrics(spark, metrics, out_dir)
        if fail_between_metrics_and_manifest:
            # crash-injection hook for the metrics-published-but-bucket-
            # not-committed window (r5 review, batch 3): the bucket
            # re-runs on resume and its metrics re-publish must REPLACE,
            # not duplicate
            raise RuntimeError(
                f"injected failure between metrics and manifest (bucket {b})"
            )
        storage.append_manifest(spark, out_dir, b, run_id)
        rows_written += sum(metrics["doc_count"].to_pylist())
        committed.append(b)

    # all buckets committed → the stage has served its purpose; drop it so a
    # completed output dir carries no second copy of the input
    storage.drop_stage(out_dir)
    _rm_f(fp_file)

    return ExtractionRun(
        run_id=run_id,
        committed_buckets=committed,
        skipped_buckets=sorted(done),
        rows_written=rows_written,
        wall_secs=time.time() - t0,
    )


def resume_or_run(spark: SparkSession, pages: DataFrame, out_dir: str, **kw) -> ExtractionRun:
    """Alias that makes call sites read as intent."""
    return run_extraction(spark, pages, out_dir, **kw)


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/extracted")


def retention_cleanup(
    spark: SparkSession,
    out_dir: str,
    cutoff_ts: str,
    fail_before_publish: bool = False,
) -> int:
    """D7/A10 retention delete (reference utils/database.py:583-621) on the
    metrics table. With Iceberg this is ``DELETE FROM metrics WHERE ts <
    cutoff``; the parquet fallback is write-then-publish: the kept rows are
    fully written to a scratch dir BEFORE the live table is touched, so the
    data always exists on disk under SOME name — and the recovery preamble
    below restores the live path if a crash lands between the two publish
    renames (scratch committed → promote it; otherwise restore the retired
    copy). Crash-injection both before and mid-publish:
    tests/test_resume.py::test_retention_crash_is_safe.
    Returns the deleted count (same observable semantics as the reference).

    Cost: one combined count scan + one filtered write (the old
    formulation ran three scans).
    """
    path = f"{out_dir}/metrics"
    tmp = f"{out_dir}/metrics_tmp"
    old = f"{out_dir}/metrics_old"
    # crash recovery for an interrupted publish (between the two renames
    # below the live path briefly does not exist): a fully-written scratch
    # (_SUCCESS present) was the logically-committed post-delete table —
    # promote it; otherwise restore the retired copy.
    if not os.path.exists(path):
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, path)
        elif os.path.exists(old):
            os.rename(old, path)
    # with a live table, any remaining retired copy OR scratch is garbage
    # from an earlier crash — drop both here so a stale committed scratch
    # cannot linger past deleted==0 early returns and later be wrongly
    # promoted by the preamble above (ADVICE r2 #3)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    df = spark.read.parquet(path)
    keep_cond = F.col("ts") >= F.lit(cutoff_ts).cast("timestamp")
    counts = df.agg(
        F.count("*").alias("n"),
        F.sum(F.when(keep_cond, 1).otherwise(0)).alias("kept"),
    ).collect()[0]
    deleted = int(counts["n"]) - int(counts["kept"] or 0)
    if deleted == 0:
        return 0
    # keep the bucket-partitioned layout append_metrics writes — a flat
    # rewrite here would mix layouts with later per-bucket publishes.
    # EXCEPT delete-all: an empty PARTITIONED write emits no files at all
    # (unreadable schema); publish a flat schema-bearing empty table, and
    # append_metrics clears that shape before re-partitioning
    kept_df = df.filter(keep_cond)
    if int(counts["kept"] or 0) == 0:
        kept_df.write.mode("overwrite").parquet(tmp)
    else:
        kept_df.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    if fail_before_publish:  # crash-injection hook for tests
        raise RuntimeError("injected crash before retention publish")
    # publish: retire old, promote new, then drop the retired copy
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return deleted
