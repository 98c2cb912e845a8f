"""Checkpointed, resumable extraction runs (north-star resumability;
SURVEY.md §4.3 "Resumable checkpointing").

Iceberg snapshots are the production design; this environment has no
Iceberg runtime jar, so the documented fallback (SURVEY.md §7.0) is used:
plain Parquet + a ``_manifest`` table of committed work units, with the
SAME anti-join resume logic an Iceberg MERGE would use. The data plane
goes through the :class:`~.storage.StorageBackend` seam (VERDICT r2 item
9) — :class:`~.storage.ParquetStorage` is the default; an Iceberg backend
implements the same ten operations as table/snapshot calls (the mapping
is tabulated in ``storage.py``) without touching the resume algorithm.
The backend is the only module that knows the metrics table's layout, so
the retention delete (reference ``cleanup_old_data``) is one of them,
``StorageBackend.delete_metrics_before``.

Unit of commit: a url-hash *bucket* (``pmod(xxhash64(url, salt), n_buckets)``).
Unit of extraction: a *commit group* of consecutive pending buckets, one
Spark job that extracts and writes them all. A group closes before the
bucket that would take its staged bytes past
``spark.sql.files.maxPartitionBytes × defaultParallelism``, so a bucket
over that bound (the design point's) is a group of its own. The group's
buckets then commit one by one, in order, each atomically: its extracted
parquet is already written, then its metrics, then its manifest row — a
crash between leaves orphan data dirs that the next run simply overwrites
(write-then-publish). The manifest records EVERY
bucket id 0..n_buckets-1 (empty ones too), so a completed run's re-invoke
is a pure manifest read — the reference's batch loop
(text_extractor_api.py:142-159) replaced by restartable partition-parallel
units.

Input is scanned ONCE per run: the pending pages are staged to
``out_dir/_staged`` written ``partitionBy("bucket")``, and every commit
group then reads only its own ``bucket=b`` directories (partition pruning —
locked by tests/test_resume.py::test_staged_commit_prunes_partitions).
The earlier formulation filtered ``xxhash64(url)%n`` per bucket against the
raw input, which nothing can push down: n_buckets full scans of the input
(~10^3 scans of 100 TB at the design point) — the resume mechanism itself
was the scale-killer. Staging costs one extra write of the pending set,
amortized across every commit and every resume (a crashed run's stage is
reused, not rebuilt). With Iceberg the stage is a MERGE-managed scratch
table; the _SUCCESS check below is the snapshot-commit check.

What a resume must match is ONE run record, ``out_dir/_run.json``:
``n_buckets``, the ``options`` and the input's plan fingerprint, written
whenever the stage is (re)built (before any commit) and read once per
run. Another ``n_buckets`` or ``options`` is refused, another input only
warns; the record outlives completion, so a re-invoke is checked too.

Scale: a failure loses at most one commit group's extraction: one bucket
(≤ 1/n of the job) at the design point, or at most ``maxPartitionBytes ×
defaultParallelism`` of staged input when buckets are small. Each group
is itself partition-parallel inside ``extract_pages_fused``.
At 10^12 docs: n_buckets ~ 10^3, bucket ~ 10^9 docs.

Grouping exists because every Spark job of Python tasks pays a fixed cost
per task before it reads a row (SURVEY.md §8, "per-Python-task floor"):
a job per small bucket pays it n times for documents one job holds.

Per commit group, the only Spark job is the one whose cost grows with the
data: the extraction + group write. Its tasks also report each (bucket,
partition)'s lineage stats into an accumulator (``extract_pages_fused``'s
``lineage``), merged by key with overwrite so a retried or recomputed
task attempt cannot count twice. The driver builds each bucket's metrics
rows from those stats — the rows ``lineage_metrics`` would aggregate over
the written bucket — and the metrics and manifest publishes that follow
are driver-side file writes of those few rows (see ``storage.py``), not
further Spark jobs. Accumulators need a classic (py4j) session; Spark
Connect has none.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import time
import uuid
import warnings
from datetime import datetime, timezone
from urllib.parse import unquote, urlparse

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.options import ExtractOptions
from ..operators.extract import (
    LINEAGE_STATS,
    PartitionStatsParam,
    extract_pages_fused,
)
from .storage import DEFAULT_STORAGE, METRICS_SCHEMA, StorageBackend

BUCKET_SALT = 0xC0FFEE


def _require_local_out_dir(out_dir: str) -> None:
    """The commit protocol's control files (the run record, _SUCCESS
    probes, publish renames, stage cleanup) use local-FS primitives. On a
    remote URI (hdfs://, s3a://…) those would silently no-op: the run
    record would never engage — so resuming with a LARGER n_buckets or
    other options would silently mis-cover or mix outputs — and stage
    reuse/cleanup would misbehave. ``file://`` is rejected too: Spark
    resolves the URI but the os-level control files would treat it as a
    literal relative path (a junk ``./file:`` tree), splitting the record
    from the data — pass the plain path instead. Hard-fail instead of
    degrading (ADVICE r2 #1). The guard holds for every storage backend:
    the run record stays a local file even when the data goes to
    Iceberg."""
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


def _write_atomic(path: str, text: str) -> None:
    """Write-then-rename, so a crash never leaves a truncated control
    file behind."""
    with open(path + ".tmp", "w") as f:
        f.write(text)
    os.replace(path + ".tmp", path)


def _staged_bytes(staged: DataFrame) -> dict[int, int] | None:
    """Each staged bucket's bytes on disk, summed over the stage's file
    listing on the driver (no Spark job). None when the stage is not
    ``bucket=b`` files the driver can size: a table source that is not a
    file table, such as Iceberg's, lists no files at all."""
    files = staged.inputFiles()
    if not files:
        return None
    sizes: dict[int, int] = {}
    for f in files:
        path = unquote(urlparse(f).path)
        part = os.path.basename(os.path.dirname(path))
        if not part.startswith("bucket="):
            return None
        try:
            size = os.path.getsize(path)
        except OSError:
            return None
        b = int(part.removeprefix("bucket="))
        sizes[b] = sizes.get(b, 0) + size
    return sizes


def _commit_groups(
    pending: list[int], sizes: dict[int, int] | None, bound: int
) -> list[list[int]]:
    """The pending buckets, in order, cut into commit groups: a group
    closes before the bucket that would take its staged bytes past
    ``bound``, so a bucket larger than ``bound`` is a group of its own,
    and so is every bucket when the sizes are unknown."""
    groups: list[list[int]] = []
    size = 0
    for b in pending:
        s = bound + 1 if sizes is None else sizes.get(b, 0)
        if groups and size + s <= bound:
            groups[-1].append(b)
            size += s
        else:
            groups.append([b])
            size = s
    return groups


def _metrics_table(stats: dict, run_id: str, bucket: int) -> pa.Table:
    """One bucket's metrics rows, built on the driver from the
    ``{(bucket, partition_id): [LINEAGE_STATS values]}`` its group's
    extraction tasks reported: the rows ``lineage_metrics`` aggregates
    from the written bucket, ``ts`` aside."""
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
            for (b, pid), values in sorted(stats.items())
            if b == bucket
        ],
        schema=METRICS_SCHEMA,
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
    options: ExtractOptions = ExtractOptions(),
    storage: StorageBackend = DEFAULT_STORAGE,
) -> ExtractionRun:
    """Execute (or resume) an extraction run over ``pages`` into
    ``out_dir/extracted`` + ``out_dir/metrics``. Re-invoking after a crash
    continues from the last committed bucket; completed runs are no-ops.
    Both must pass the out_dir's recorded ``n_buckets`` and ``options``.

    ``fail_after_buckets`` injects a crash after N commits (resume tests).
    The crash fires before the next bucket's metrics publish, so a crash
    run has already extracted and written that bucket's whole commit
    group, committed buckets included.
    ``options`` configures every bucket's extraction.
    Each commit group runs :func:`extract_pages_fused` with a ``lineage``
    accumulator, so ``spark`` must be a classic (py4j) session:
    accumulators do not exist under Spark Connect.
    """
    t0 = time.time()
    _require_local_out_dir(out_dir)
    run_id = run_id or uuid.uuid4().hex[:12]
    # bucket ids in the manifest AND the stage are functions of n_buckets,
    # and every committed bucket was extracted under `options`: resuming
    # under another n would silently mis-cover (old manifest rows mark new
    # ids done that were never extracted under the new numbering), under
    # other options would mix two option sets in one output. The run
    # record holds both; refuse a mismatch.
    record_path = os.path.join(out_dir, "_run.json")
    try:
        with open(record_path) as f:
            record = json.load(f)
    except (OSError, ValueError):
        record = None  # missing, or unreadable
    opts = dataclasses.asdict(options)
    if record is not None:
        pinned = record.get("n_buckets")
        if pinned != n_buckets:
            raise ValueError(
                f"out_dir was created with n_buckets={pinned}; resuming with "
                f"{n_buckets} would silently skip work — pass n_buckets="
                f"{pinned} or use a fresh out_dir"
            )
        if record.get("options") != opts:
            raise ValueError(
                f"out_dir was run with options {record.get('options')}; "
                f"resuming with options {opts} would mix two option sets "
                "in one output — pass the recorded options or use a fresh "
                "out_dir"
            )
    done = set(committed_buckets(spark, out_dir, storage))
    if record is None and done:
        # a lost record, or an out_dir of an earlier layout: the original
        # n_buckets is unknowable, so ANY resume could mis-cover (r5
        # review, batch 3)
        raise ValueError(
            f"out_dir has committed bucket ids {sorted(done)} but no "
            "n_buckets pin (no readable _run.json); its original bucket "
            "count is unknowable, so resuming could silently mis-cover — "
            "use a fresh out_dir"
        )
    pending_buckets = [b for b in range(n_buckets) if b not in done]

    if not pending_buckets:  # completed run: pure manifest read, no input scan
        # a crash after the final manifest commit but before stage cleanup
        # would otherwise leave the orphan copy forever
        storage.drop_stage(out_dir)
        return ExtractionRun(
            run_id=run_id,
            committed_buckets=[],
            skipped_buckets=sorted(done),
            rows_written=0,
            wall_secs=time.time() - t0,
        )

    # ONE scan of the input per run: stage the pages bucketed, written
    # partitionBy("bucket"), so each group below reads only its bucket=b
    # dirs via partition pruning. A crashed run's committed stage is
    # reused only under its record (the pages INPUT is assumed immutable
    # between crash and resume — the Iceberg-snapshot assumption);
    # otherwise it is rebuilt, the record written first. The record's input identity
    # (ADVICE r2 #2) is the pages' logical plan, hashed: no scan, and
    # another path or filter almost surely changes it. Plan strings may
    # differ across sessions for the same snapshot, so a mismatch only
    # warns, and `_jdf` is absent under Spark Connect, so it may be None.
    try:
        plan_fp: str | None = hashlib.sha256(
            pages._jdf.queryExecution().logical().toString().encode()
        ).hexdigest()
    except Exception:
        plan_fp = None
    if storage.stage_is_committed(out_dir) and record is not None:
        # the passed `pages` DataFrame is NOT re-read; the crashed run's
        # staged snapshot is. Flag a caller that appears to be passing a
        # different input on resume.
        old_fp = record.get("input")
        if old_fp is not None and plan_fp is not None and old_fp != plan_fp:
            warnings.warn(
                f"resuming {out_dir}: the staged input snapshot from the "
                "crashed run is being reused, but the `pages` DataFrame "
                "passed now has a different logical plan than the one "
                "staged — if the input genuinely changed, use a fresh "
                "out_dir (the staged snapshot wins)",
                stacklevel=2,
            )
    else:
        os.makedirs(out_dir, exist_ok=True)
        # atomic: a truncated record would brick every later resume
        _write_atomic(
            record_path,
            json.dumps({"n_buckets": n_buckets, "options": opts, "input": plan_fp}),
        )
        storage.stage_pages(
            pages.withColumn("bucket", _bucket_col(n_buckets)), out_dir
        )
    staged = storage.read_stage(spark, out_dir)
    bound = (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        * spark.sparkContext.defaultParallelism
    )

    committed: list[int] = []
    rows_written = 0
    for group in _commit_groups(pending_buckets, _staged_bytes(staged), bound):
        # partition-pruned: only the group's bucket=b directories are read.
        # The extraction tasks report each (bucket, partition)'s lineage
        # stats into this accumulator, so the group's write is the only
        # job of its buckets' commits
        lineage = spark.sparkContext.accumulator({}, PartitionStatsParam())
        extracted = extract_pages_fused(
            staged.filter(F.col("bucket").isin(group)),
            num_partitions=num_partitions, options=options, lineage=lineage,
            keep_bucket=True,
        )
        # write-then-publish: the group's data, then bucket by bucket its
        # metrics and its manifest row — in that order
        storage.write_bucket(extracted, out_dir, group)
        for b in group:
            if fail_after_buckets is not None and len(committed) >= fail_after_buckets:
                raise RuntimeError(
                    f"injected failure after {fail_after_buckets} buckets "
                    f"(run {run_id})"
                )
            metrics = _metrics_table(lineage.value, run_id, b)
            if metrics.num_rows:
                storage.append_metrics(spark, metrics, out_dir)
            storage.append_manifest(spark, out_dir, b, run_id)
            rows_written += sum(metrics["doc_count"].to_pylist())
            committed.append(b)

    # all buckets committed → the stage has served its purpose; drop it so a
    # completed output dir carries no second copy of the input
    storage.drop_stage(out_dir)

    return ExtractionRun(
        run_id=run_id,
        committed_buckets=committed,
        skipped_buckets=sorted(done),
        rows_written=rows_written,
        wall_secs=time.time() - t0,
    )


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/extracted")
