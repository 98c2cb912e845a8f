"""Resume-equivalence property (SURVEY.md §5 item 5): kill after partial
commit, resume, final table equals an uninterrupted single run. Plus
staged-commit partition pruning, retention-delete (incl. crash injection)
and export-sink checks."""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from universal_text_extractor_spark.kernels.options import ExtractOptions
from universal_text_extractor_spark.plans.pipeline import (
    committed_buckets,
    read_extracted,
    run_extraction,
)
from universal_text_extractor_spark.plans.storage import (
    METRICS_SCHEMA,
    ParquetStorage,
)
from universal_text_extractor_spark.sources.pages_gen import (
    generate_pages_df,
    make_doc,
)

N = 400
STORE = ParquetStorage()

METRICS_SCHEMA_DDL = (
    "struct<partition_id:bigint,doc_count:bigint,input_bytes:bigint,"
    "byte_range_start:bigint,byte_range_end:bigint,failure_count:bigint,"
    "ocr_count:bigint,extraction_latency:double,run_id:string,"
    "ts:timestamp,bucket:int>"
)


def _table(spark, out_dir):
    return {
        r["url"]: (r["content_type"], r["text"], r["success"])
        for r in read_extracted(spark, out_dir).collect()
    }


def _bucket_count(spark, out_dir, bucket):
    return spark.read.parquet(f"{out_dir}/extracted/bucket={bucket}").count()


def _crash_metrics_rename(monkeypatch, out_dir, nth):
    """Make the ``nth`` rename under ``out_dir/metrics`` raise. A bucket
    publish over a live dir renames twice (retire the live dir, promote
    the new one), so an odd ``nth`` crashes one after its new rows are
    written and an even one between its two renames."""
    metrics, real, seen = f"{out_dir}/metrics/", os.rename, []

    def rename(src, dst):
        if os.fspath(src).startswith(metrics):
            seen.append(src)
            if len(seen) == nth:
                raise RuntimeError("injected crash in metrics publish")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


# a synthetic metrics table, bucket → row timestamps (UTC, 2024-03-10):
# bucket 0 holds the oldest rows, bucket 1's straddle 10:30, bucket 2
# holds the newest; partition_id numbers the rows 0..6 in this order
_SEED_TS = {0: ["08:00", "09:00"], 1: ["10:00", "10:30", "11:00"], 2: ["12:00", "13:00"]}


def _seed_metrics(spark, out_dir, layout="driver"):
    """Publish the synthetic metrics table under ``out_dir``, through
    ``append_metrics`` (``driver``) or as the Spark-written
    ``partitionBy("bucket")`` layout of earlier runs (``spark``)."""
    cells = [(b, hm) for b, hms in _SEED_TS.items() for hm in hms]
    table = pa.Table.from_pylist(
        [
            {
                "partition_id": pid, "doc_count": 1, "input_bytes": 10,
                "byte_range_start": 0, "byte_range_end": 10,
                "failure_count": 0, "ocr_count": 0,
                "extraction_latency": 0.5, "run_id": "seed",
                "ts": datetime.fromisoformat(f"2024-03-10T{hm}+00:00"),
                "bucket": b,
            }
            for pid, (b, hm) in enumerate(cells)
        ],
        schema=METRICS_SCHEMA,
    )
    if layout == "driver":
        STORE.append_metrics(spark, table, out_dir)
    else:
        spark.createDataFrame(table).write.partitionBy("bucket").parquet(
            f"{out_dir}/metrics"
        )


def _metrics_rows(spark, out_dir):
    m = spark.read.parquet(f"{out_dir}/metrics")
    assert m.schema.simpleString() == METRICS_SCHEMA_DDL
    return sorted(tuple(r) for r in m.collect())


def _hidden(out_dir):
    return [e for e in os.listdir(f"{out_dir}/metrics") if e.startswith(".")]


class GroupRecording(ParquetStorage):
    """Records the buckets of every ``write_bucket`` call: one call is one
    commit group's extraction job."""

    def __init__(self):
        self.groups: list[list[int]] = []

    def write_bucket(self, extracted, out_dir, buckets):
        self.groups.append(list(buckets))
        super().write_bucket(extracted, out_dir, buckets)


def _manifest_rows(spark, out_dir):
    rows = spark.read.parquet(f"{out_dir}/_manifest").collect()
    return sorted(r["bucket"] for r in rows)


def _dispatch_stages(spark, group):
    """How many stages of the jobs in ``group`` ran the ``mapInArrow``
    dispatch, from the stages' operation graphs in Spark's status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are async
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()

    def names(cluster):
        found, it = [cluster.name()], cluster.childClusters().iterator()
        while it.hasNext():
            found += names(it.next())
        return found

    stages = {
        sid
        for job in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(job).stageIds
    }
    return sum(
        "MapInArrow" in names(store.operationGraphForStage(sid).rootCluster())
        for sid in stages
    )


def _full_table(spark, out_dir):
    """Every column of the extracted table but the two a rerun cannot
    reproduce: ``extracted_at`` and the kernel timing ``extract_us``."""
    ext = read_extracted(spark, out_dir).drop("extracted_at", "extract_us")
    return sorted(tuple(r) for r in ext.collect())


def test_kill_and_resume_equals_single_run(spark, tmp_path):
    pages = generate_pages_df(spark, N, partitions=4)

    single = str(tmp_path / "single")
    r1 = run_extraction(spark, pages, single, n_buckets=6, num_partitions=4)
    assert r1.rows_written == N
    assert not r1.skipped_buckets

    crashy = str(tmp_path / "crashy")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, crashy, n_buckets=6, num_partitions=4, fail_after_buckets=2
        )
    # resume
    r2 = run_extraction(spark, pages, crashy, n_buckets=6, num_partitions=4)
    assert len(r2.skipped_buckets) == 2  # the committed-before-crash buckets
    assert _table(spark, crashy) == _table(spark, single)


class CrashAfterGroupWrite(GroupRecording):
    def write_bucket(self, extracted, out_dir, buckets):
        super().write_bucket(extracted, out_dir, buckets)
        raise RuntimeError("injected failure after the group's data write")


class CrashBeforeManifestOf2(GroupRecording):
    def append_manifest(self, spark, out_dir, bucket, run_id):
        if bucket == 2:
            raise RuntimeError("injected failure between metrics and manifest")
        super().append_manifest(spark, out_dir, bucket, run_id)


@pytest.mark.parametrize(
    "crashing, committed",
    [(CrashAfterGroupWrite, []), (CrashBeforeManifestOf2, [0, 1])],
    ids=["after-data-write", "mid-group-metrics-manifest"],
)
def test_group_crash_resume_equals_single_run(spark, tmp_path, crashing, committed):
    """One commit group extracts and writes all its buckets in one job,
    then commits them one by one. A crash after the group's data write
    (nothing committed) or between bucket 2's metrics and its manifest
    (buckets 0-1 committed, 2 and 3 written but pending) resumes to the
    single run's table, with one metrics row per (bucket, partition) and
    each bucket once in the manifest."""
    pages = generate_pages_df(spark, 200, partitions=2)
    single = str(tmp_path / "single")
    run_extraction(spark, pages, single, n_buckets=4, num_partitions=2)
    out = str(tmp_path / "crashed")
    store = crashing()
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out, n_buckets=4, num_partitions=2, run_id="a",
            storage=store,
        )
    assert store.groups == [[0, 1, 2, 3]]  # the whole run is one group
    assert {f"bucket={b}" for b in range(4)} <= set(os.listdir(f"{out}/extracted"))
    published = {b: {"a"} for b in committed}
    if committed:  # bucket 2's metrics were published before the crash
        published[2] = {"a"}
        assert _metrics_by_bucket(spark, out) == published
    assert committed_buckets(spark, out) == committed
    # what a group write killed mid-job leaves: its hidden staging dir,
    # which no later write reuses
    leftover = f"{out}/extracted/.spark-staging-0b7e/bucket=1"
    os.makedirs(leftover)
    with open(f"{leftover}/part-00000.snappy.parquet", "wb") as f:
        f.write(b"x" * 64)

    resumed = GroupRecording()
    r = run_extraction(
        spark, pages, out, n_buckets=4, num_partitions=2, run_id="b",
        storage=resumed,
    )
    pending = [b for b in range(4) if b not in committed]
    assert resumed.groups == [pending]
    assert r.committed_buckets == pending and r.skipped_buckets == committed
    assert _table(spark, out) == _table(spark, single)
    assert _metrics_by_bucket(spark, out) == {
        b: {"a" if b in committed else "b"} for b in range(4)
    }
    assert _manifest_rows(spark, out) == [0, 1, 2, 3]
    total = spark.read.parquet(f"{out}/metrics").agg(F.sum("doc_count"))
    assert total.collect()[0][0] == 200
    assert not any(
        e.startswith(".spark-staging-") for e in os.listdir(f"{out}/extracted")
    )


def test_commit_groups_follow_max_partition_bytes(spark, tmp_path):
    """A group closes before the bucket that would take its staged bytes
    past maxPartitionBytes x defaultParallelism. By default the 4 small
    buckets of a run are one group: one write, one dispatch stage. With
    maxPartitionBytes lowered until every bucket is over the bound, each
    bucket is a group of its own, with its own dispatch stage, and the
    output equals the grouped run's on every reproducible column."""
    sc = spark.sparkContext
    pages = generate_pages_df(spark, 200, partitions=2)
    sizing = str(tmp_path / "sizing")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, sizing, n_buckets=4, num_partitions=2,
            fail_after_buckets=0,
        )
    staged = f"{sizing}/_staged"
    smallest = min(
        sum(
            os.path.getsize(f"{staged}/{d}/{f}")
            for f in os.listdir(f"{staged}/{d}")
            if f.endswith(".parquet")
        )
        for d in os.listdir(staged)
        if d.startswith("bucket=")
    )
    # half the smallest bucket over the bound, and a handful of scan
    # splits per bucket rather than one per byte
    max_bytes = smallest // (2 * sc.defaultParallelism)

    def run(name, max_partition_bytes=None):
        store, group = GroupRecording(), f"{tmp_path.name}-{name}"
        conf = "spark.sql.files.maxPartitionBytes"
        default = spark.conf.get(conf)
        if max_partition_bytes is not None:
            spark.conf.set(conf, str(max_partition_bytes))
        sc.setJobGroup(group, name)
        try:
            run_extraction(
                spark, pages, str(tmp_path / name), n_buckets=4,
                num_partitions=2, storage=store,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            spark.conf.set(conf, default)
        return store.groups, _dispatch_stages(spark, group)

    assert run("grouped") == ([[0, 1, 2, 3]], 1)
    assert run("per-bucket", max_bytes) == ([[0], [1], [2], [3]], 4)
    assert _full_table(spark, str(tmp_path / "per-bucket")) == _full_table(
        spark, str(tmp_path / "grouped")
    )


@pytest.mark.parametrize(
    "sizes, groups",
    [
        # 3+3+4 fills the bound exactly; bucket 3 would pass it
        ({0: 3, 1: 3, 2: 4, 3: 1}, [[0, 1, 2], [3]]),
        # a bucket over the bound is a group of its own
        ({0: 2, 1: 12, 2: 2, 3: 2}, [[0], [1], [2, 3]]),
        # a bucket with no staged file is empty and joins its group
        ({0: 9, 3: 1}, [[0, 1, 2, 3]]),
        # unknown sizes: one group per bucket, as before grouping
        (None, [[0], [1], [2], [3]]),
    ],
)
def test_commit_group_rule(sizes, groups):
    from universal_text_extractor_spark.plans.pipeline import _commit_groups

    assert _commit_groups([0, 1, 2, 3], sizes, 10) == groups


class TableStage(GroupRecording):
    """Records each group, and reads the stage back as a source with no
    file listing, as an Iceberg table is."""

    def read_stage(self, spark, out_dir):
        from pyspark.sql import DataFrame

        jdf = super().read_stage(spark, out_dir)._jdf
        rows = spark._jsparkSession.createDataFrame(jdf.rdd(), jdf.schema())
        return DataFrame(rows, spark)


def test_staged_bytes_unknown_off_local_stage(spark, tmp_path):
    """Sizes come from the stage's ``bucket=b`` files; a stage the driver
    cannot size (no file listing, another layout, a file gone) gives
    None, so every bucket becomes its own group."""
    from universal_text_extractor_spark.plans.pipeline import _staged_bytes

    class Listing:
        def __init__(self, files):
            self.files = files

        def inputFiles(self):
            return self.files

    for b, n in ((1, 5), (1, 7), (2, 3)):
        os.makedirs(tmp_path / f"bucket={b}", exist_ok=True)
        (tmp_path / f"bucket={b}" / f"part-{n}.parquet").write_bytes(b"x" * n)
    local = [f"file://{p}" for p in sorted(tmp_path.glob("bucket=*/*"))]
    assert _staged_bytes(Listing(local)) == {1: 12, 2: 3}
    assert _staged_bytes(Listing([])) is None
    assert _staged_bytes(Listing([f"file://{tmp_path}/flat.parquet"])) is None
    assert _staged_bytes(Listing([f"file://{tmp_path}/bucket=3/gone"])) is None

    pages = generate_pages_df(spark, 40, partitions=1)
    store = TableStage()
    out = str(tmp_path / "table")
    r = run_extraction(
        spark, pages, out, n_buckets=3, num_partitions=2, storage=store
    )
    assert store.groups == [[0], [1], [2]]
    assert r.rows_written == 40


def test_resume_runs_one_dispatch_stage(spark, tmp_path):
    """A resume over k small pending buckets extracts them in one job: one
    write_bucket call and exactly one mapInArrow dispatch stage, where a
    job per bucket would run k."""
    sc = spark.sparkContext
    pages = generate_pages_df(spark, N, partitions=4)
    out = str(tmp_path / "onestage")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out, n_buckets=6, num_partitions=4, fail_after_buckets=2
        )
    store, group = GroupRecording(), f"{tmp_path.name}-resume"
    sc.setJobGroup(group, "resume")
    try:
        r = run_extraction(
            spark, pages, out, n_buckets=6, num_partitions=4, storage=store
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r.committed_buckets == [2, 3, 4, 5]
    assert store.groups == [[2, 3, 4, 5]]
    assert _dispatch_stages(spark, group) == 1


def test_empty_bucket_of_a_group_reads_empty(spark, tmp_path):
    """A bucket that holds no page still commits, and reads back as an
    empty table, though a group's partitioned write makes no dir for it."""
    pages = generate_pages_df(spark, 6, partitions=1)
    out = str(tmp_path / "sparse")
    r = run_extraction(spark, pages, out, n_buckets=16, num_partitions=2)
    assert r.committed_buckets == list(range(16))
    sizes = [STORE.read_bucket(spark, out, b).count() for b in range(16)]
    assert sum(sizes) == 6 and 0 in sizes


def test_staged_commit_prunes_partitions(spark, tmp_path):
    """The scale contract of the resume loop: the input is staged ONCE,
    written partitionBy(bucket), and every per-bucket commit reads only its
    own bucket=b directory (PartitionFilters prune — no full-input rescan
    per bucket)."""
    pages = generate_pages_df(spark, 200, partitions=2)
    out = str(tmp_path / "staged")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out, n_buckets=4, num_partitions=2, fail_after_buckets=1
        )
    # the stage survives the crash (reused on resume, not rebuilt) …
    staged_dir = f"{out}/_staged"
    assert os.path.exists(f"{staged_dir}/_SUCCESS")
    # … and the per-bucket read is partition-pruned to bucket=b
    staged = spark.read.parquet(staged_dir)
    plan = (
        staged.filter(F.col("bucket") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    part_filters = plan.split("PartitionFilters: ")[1].splitlines()[0]
    assert "bucket" in part_filters and "= 2" in part_filters, plan
    # resume completes; the stage is dropped once every bucket committed
    r = run_extraction(spark, pages, out, n_buckets=4, num_partitions=2)
    assert len(r.skipped_buckets) == 1
    assert not os.path.exists(staged_dir)
    assert read_extracted(spark, out).count() == 200


def test_completed_run_is_noop(spark, tmp_path):
    pages = generate_pages_df(spark, 100, partitions=2)
    out = str(tmp_path / "done")
    run_extraction(spark, pages, out, n_buckets=3, num_partitions=2)
    again = run_extraction(spark, pages, out, n_buckets=3, num_partitions=2)
    assert again.rows_written == 0
    assert len(again.skipped_buckets) == 3


def test_metrics_and_retention(spark, tmp_path):
    pages = generate_pages_df(spark, 200, partitions=2)
    out = str(tmp_path / "ret")
    run_extraction(spark, pages, out, n_buckets=2, num_partitions=2)
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.agg({"doc_count": "sum"}).collect()[0][0] == 200
    # nothing older than a past cutoff → delete 0; future cutoff → delete all
    assert STORE.delete_metrics_before(spark, out, "2000-01-01 00:00:00") == 0
    n = spark.read.parquet(f"{out}/metrics").count()
    assert STORE.delete_metrics_before(spark, out, "2100-01-01 00:00:00") == n
    assert spark.read.parquet(f"{out}/metrics").count() == 0


@pytest.mark.parametrize("layout", ["driver", "spark"])
@pytest.mark.parametrize(
    "zone, cutoff, deleted, kept",
    [
        # the counts and kept rows are what the earlier Spark-SQL retention
        # (a filter on ``ts >= CAST(cutoff AS TIMESTAMP)``) left on this
        # table; 02:30 is inside the zone's spring-forward gap → 10:30 UTC
        ("America/Los_Angeles", "2024-03-10 02:30:00", 3, [3, 4, 5, 6]),
        ("America/Los_Angeles", "2024-03-10 01:30:00", 2, [2, 3, 4, 5, 6]),
        ("+05:30", "2024-03-10 15:30:00", 2, [2, 3, 4, 5, 6]),
        ("America/Los_Angeles", "2024-03-10T20:00:00+09:00", 4, [4, 5, 6]),
        ("Etc/UTC", "2024-03-10 02:30:00", 0, [0, 1, 2, 3, 4, 5, 6]),
        ("America/Los_Angeles", "2000-01-01 00:00:00", 0, [0, 1, 2, 3, 4, 5, 6]),
        ("America/Los_Angeles", "2100-01-01 00:00:00", 7, []),
    ],
)
def test_retention_cutoff_matches_spark_cast(
    spark, tmp_path, layout, zone, cutoff, deleted, kept
):
    """A cutoff without an offset is wall time in the session zone, as
    Spark's string → timestamp cast reads it, on both metrics layouts.
    Retention keeps the table bucket-partitioned: a bucket that loses
    every row keeps a zero-row file, never a flat table."""
    out = str(tmp_path / "cutoff")
    _seed_metrics(spark, out, layout)
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        assert STORE.delete_metrics_before(spark, out, cutoff) == deleted
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    assert [r[0] for r in _metrics_rows(spark, out)] == kept
    visible = [
        e for e in os.listdir(f"{out}/metrics") if not e.startswith((".", "_"))
    ]
    assert sorted(visible) == ["bucket=0", "bucket=1", "bucket=2"]


def test_retention_rejects_unparsable_cutoff(spark, tmp_path):
    out = str(tmp_path / "badcutoff")
    _seed_metrics(spark, out)
    with pytest.raises(ValueError):
        STORE.delete_metrics_before(spark, out, "last tuesday")
    assert len(_metrics_rows(spark, out)) == 7


@pytest.mark.parametrize("nth", [1, 2, 3, 4])
def test_retention_crash_is_safe(spark, tmp_path, monkeypatch, nth):
    """Retention republishes each bucket that loses rows through the
    per-bucket swap: two renames per bucket, four here (bucket 0 loses
    every row, bucket 1 one). A crash at any of them is recovered by
    running retention again: the table then equals a clean retention's,
    no hidden leftover remains, and no row is counted twice."""
    cutoff = "2024-03-10T10:15:00+00:00"
    clean = str(tmp_path / "clean")
    _seed_metrics(spark, clean)
    with monkeypatch.context() as m:
        _crash_metrics_rename(m, clean, 5)  # a clean run renames 4 times
        assert STORE.delete_metrics_before(spark, clean, cutoff) == 3
    out = str(tmp_path / "crashed")
    _seed_metrics(spark, out)
    with monkeypatch.context() as m, pytest.raises(
        RuntimeError, match="injected crash"
    ):
        _crash_metrics_rename(m, out, nth)
        STORE.delete_metrics_before(spark, out, cutoff)
    # bucket 0 (renames 1-2) must be redone in full; after it, only
    # bucket 1's one row is left to delete
    assert STORE.delete_metrics_before(spark, out, cutoff) == (
        3 if nth <= 2 else 1
    )
    assert _metrics_rows(spark, out) == _metrics_rows(spark, clean)
    assert _hidden(out) == []


def test_bucket_count_change_is_refused(spark, tmp_path):
    """Manifest and stage bucket ids are functions of n_buckets — resuming
    the same out_dir with a different n would silently skip work, so the
    pipeline pins n_buckets per out_dir and refuses a mismatch; resuming
    with the pinned value completes normally."""
    pages = generate_pages_df(spark, 200, partitions=2)
    out = str(tmp_path / "nbchange")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out, n_buckets=8, num_partitions=2, fail_after_buckets=1
        )
    with pytest.raises(ValueError, match="n_buckets=8"):
        run_extraction(spark, pages, out, n_buckets=4, num_partitions=2)
    run_extraction(spark, pages, out, n_buckets=8, num_partitions=2)
    assert read_extracted(spark, out).select("url").distinct().count() == 200


def test_options_change_is_refused(spark, tmp_path):
    """Every committed bucket was extracted under the first run's options:
    a resume under other options would mix two option sets in one output
    (legacy .doc literals next to parsed text), so it is refused, naming
    both records; resuming under the recorded options equals a clean
    run."""
    pages = spark.createDataFrame(
        [
            (f"https://x/{i}.doc", None, make_doc([f"paragraph {i}"]), "", "en")
            for i in range(16)
        ],
        schema="url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    clean = str(tmp_path / "clean")
    run_extraction(spark, pages, clean, n_buckets=4, num_partitions=2)
    out = str(tmp_path / "optchange")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out, n_buckets=4, num_partitions=2, fail_after_buckets=2
        )
    with pytest.raises(
        ValueError, match="'legacy_office': False.*'legacy_office': True"
    ):
        run_extraction(
            spark, pages, out, n_buckets=4, num_partitions=2,
            options=ExtractOptions(legacy_office=True),
        )
    run_extraction(spark, pages, out, n_buckets=4, num_partitions=2)
    assert _table(spark, out) == _table(spark, clean)


def test_run_record_publish_crash_is_safe(spark, tmp_path, monkeypatch):
    """The run record is published (renamed into place) before the stage
    and any commit, so a crash at that rename leaves nothing to resume:
    the next run starts over and equals a clean run."""
    pages = generate_pages_df(spark, 100, partitions=2)
    clean = str(tmp_path / "clean")
    run_extraction(spark, pages, clean, n_buckets=3, num_partitions=2)
    out = str(tmp_path / "recordcrash")
    record, real, seen = os.path.join(out, "_run.json"), os.replace, []

    def replace(src, dst):
        if os.fspath(dst) == record and not seen:
            seen.append(dst)
            raise RuntimeError("injected crash in run record publish")
        return real(src, dst)

    with monkeypatch.context() as m, pytest.raises(
        RuntimeError, match="run record publish"
    ):
        m.setattr(os, "replace", replace)
        run_extraction(spark, pages, out, n_buckets=3, num_partitions=2)
    assert not os.path.exists(record)
    r = run_extraction(spark, pages, out, n_buckets=3, num_partitions=2)
    assert r.rows_written == 100 and not r.skipped_buckets
    assert _table(spark, out) == _table(spark, clean)


def test_non_local_out_dir_refused(spark):
    """The parquet-fallback commit protocol uses local-FS control files —
    a remote URI must hard-fail, not degrade silently (ADVICE r2 #1)."""
    pages = generate_pages_df(spark, 10, partitions=1)
    with pytest.raises(ValueError, match="local filesystem"):
        run_extraction(spark, pages, "hdfs://nn/warehouse/out", n_buckets=2)
    with pytest.raises(ValueError, match="local filesystem"):
        run_extraction(spark, pages, "s3a://bucket/out", n_buckets=2)
    # file:// too: Spark resolves the URI but the os-level control files
    # would treat it as a literal relative path, splitting pin from data
    with pytest.raises(ValueError, match="local filesystem"):
        run_extraction(spark, pages, "file:///tmp/out", n_buckets=2)


def test_resume_with_different_input_warns(spark, tmp_path):
    """Resuming over a committed stage ignores the passed `pages` in favor
    of the staged snapshot; a caller passing a DIFFERENT input must at
    least get a warning (ADVICE r2 #2)."""
    import warnings

    pages = generate_pages_df(spark, 120, partitions=2)
    out = str(tmp_path / "fpwarn")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out, n_buckets=4, num_partitions=2, fail_after_buckets=1
        )
    other = generate_pages_df(spark, 120, partitions=2).filter("length(url) >= 0")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        r = run_extraction(spark, other, out, n_buckets=4, num_partitions=2)
    assert any("staged input snapshot" in str(w.message) for w in caught)
    # the staged snapshot (original input) wins — full corpus extracted,
    # and the resume only re-did the 3 not-yet-committed buckets
    assert 0 < r.rows_written < 120
    assert read_extracted(spark, out).count() == 120
    # same-plan resume does NOT warn
    out2 = str(tmp_path / "fpsame")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out2, n_buckets=4, num_partitions=2, fail_after_buckets=1
        )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        run_extraction(spark, pages, out2, n_buckets=4, num_partitions=2)
    assert not any("staged input snapshot" in str(w.message) for w in caught)


def test_retention_noop_clears_stale_scratch(spark, tmp_path, monkeypatch):
    """A crashed retention leaves bucket 0's post-delete rows in
    ``.tmp-bucket=0``, and after its first rename the live rows retired to
    ``.old-bucket=0``. The post-delete copy must never be promoted: a
    later retention that deletes nothing restores the retired rows, drops
    the rest, and the table reads exactly as before the crash (ADVICE r2
    #3). Both crash points of bucket 0's publish are checked."""
    for nth in (1, 2):
        out = str(tmp_path / f"staletmp{nth}")
        _seed_metrics(spark, out)
        before = _metrics_rows(spark, out)
        with monkeypatch.context() as m, pytest.raises(
            RuntimeError, match="injected crash"
        ):
            _crash_metrics_rename(m, out, nth)
            STORE.delete_metrics_before(spark, out, "2100-01-01 00:00:00")
        assert ".tmp-bucket=0" in _hidden(out)
        assert STORE.delete_metrics_before(spark, out, "2000-01-01 00:00:00") == 0
        assert _hidden(out) == []
        assert _metrics_rows(spark, out) == before


def test_retention_launches_no_spark_jobs(spark, tmp_path):
    """Retention reads and republishes the metrics table on the driver:
    a past, a straddling and a future cutoff launch no Spark job, counted
    through the calls' job group as in
    ``test_control_plane_launches_no_spark_jobs``. A Spark read of the
    table in its own group is the positive control."""
    sc = spark.sparkContext
    out = str(tmp_path / "nojobs")
    _seed_metrics(spark, out)
    group, control = f"{tmp_path.name}-retention", f"{tmp_path.name}-control"
    cutoffs = [
        "2000-01-01 00:00:00", "2024-03-10T10:30:00+00:00", "2100-01-01 00:00:00"
    ]
    try:
        sc.setJobGroup(group, "retention")
        deleted = [STORE.delete_metrics_before(spark, out, c) for c in cutoffs]
        sc.setJobGroup(control, "positive control")
        assert spark.read.parquet(f"{out}/metrics").count() == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert deleted == [0, 3, 4]
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are async
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert list(sc.statusTracker().getJobIdsForGroup(control))


def test_resume_at_design_fanout(spark, tmp_path):
    """VERDICT r2 item 8: exercise n_buckets at a realistic fan-out (64 —
    same order as the 10^3 design point relative to corpus size) to catch
    partitionBy small-file pathologies and manifest-read scaling; pruning
    and resume-equivalence must still hold."""
    pages = generate_pages_df(spark, N, partitions=4)
    out = str(tmp_path / "fan64")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out, n_buckets=64, num_partitions=2, fail_after_buckets=8
        )
    staged = spark.read.parquet(f"{out}/_staged")
    plan = (
        staged.filter(F.col("bucket") == 33)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    part_filters = plan.split("PartitionFilters: ")[1].splitlines()[0]
    assert "bucket" in part_filters and "= 33" in part_filters, plan
    r = run_extraction(spark, pages, out, n_buckets=64, num_partitions=2)
    assert len(r.skipped_buckets) == 8
    assert sorted(r.committed_buckets + r.skipped_buckets) == list(range(64))
    single = str(tmp_path / "fan64_single")
    run_extraction(spark, pages, single, n_buckets=64, num_partitions=2)
    assert _table(spark, out) == _table(spark, single)
    # completed re-invoke is a pure manifest read even at 64 buckets
    again = run_extraction(spark, pages, out, n_buckets=64, num_partitions=2)
    assert again.rows_written == 0 and len(again.skipped_buckets) == 64


@pytest.mark.parametrize("backend", ["parquet", "iceberg"])
def test_storage_seam_is_honored(spark, tmp_path, backend):
    """VERDICT r2 item 9 / r3 item 4: the pipeline's data plane must flow
    through the StorageBackend interface — a delegating backend sees every
    operation, and the run through it is equivalent to the default. The
    iceberg leg runs the same contract through IcebergStorage and
    auto-skips without the runtime jar (none in this sandbox)."""
    from universal_text_extractor_spark.plans.storage import (
        IcebergStorage,
        ParquetStorage,
        iceberg_available,
    )

    if backend == "iceberg" and not iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime jar on the classpath")
    base_cls = ParquetStorage if backend == "parquet" else IcebergStorage

    calls: list[str] = []

    class Recording(base_cls):
        def __getattribute__(self, name):
            attr = super().__getattribute__(name)
            if callable(attr) and not name.startswith("_"):
                def wrapped(*a, **k):
                    calls.append(name)
                    return attr(*a, **k)
                return wrapped
            return attr

    pages = generate_pages_df(spark, 100, partitions=2)
    out = str(tmp_path / "seam")
    r = run_extraction(
        spark, pages, out, n_buckets=3, num_partitions=2, storage=Recording()
    )
    assert r.rows_written == 100
    assert {
        "read_manifest_buckets", "stage_is_committed", "stage_pages",
        "read_stage", "write_bucket", "append_metrics",
        "append_manifest", "drop_stage",
    } <= set(calls)
    assert calls.count("append_manifest") == 3  # one commit per bucket
    # the lineage rows come from the extraction job, not a read-back
    assert "read_bucket" not in calls
    base = str(tmp_path / "seam_base")
    run_extraction(spark, pages, base, n_buckets=3, num_partitions=2)
    if backend == "parquet":
        got = _table(spark, out)
    else:  # iceberg keeps the output in catalog tables, not out_dir files
        st = Recording()
        got = {
            r["url"]: (r["content_type"], r["text"], r["success"])
            for b in range(3)
            for r in st.read_bucket(spark, out, b).collect()
        }
    assert got == _table(spark, base)


def test_export_sinks(spark, tmp_path):
    from universal_text_extractor_spark.operators.extract import (
        extract_pages_fused,
    )
    from universal_text_extractor_spark.sources.sinks import (
        export_csv_lines,
        export_json,
        export_txt,
    )

    ext = extract_pages_fused(
        generate_pages_df(spark, 50, partitions=2), num_partitions=2
    )
    export_txt(ext, str(tmp_path / "txt"))
    export_json(ext, str(tmp_path / "json"))
    export_csv_lines(ext.limit(5), str(tmp_path / "csv"))
    assert spark.read.text(str(tmp_path / "txt")).count() > 0
    j = spark.read.json(str(tmp_path / "json"))
    assert {"extracted_text", "extraction_timestamp", "lines"} <= set(j.columns)
    assert j.count() == 50


@pytest.mark.parametrize("backend", ["parquet", "iceberg"])
def test_storage_smoke_scenario(spark, tmp_path, backend):
    """r4 verdict item #4 — one body, two runners: this pytest leg runs
    the EXACT scenario scripts/iceberg_smoke.py runs on a jar-equipped
    cluster (stage → crash between bucket commits → resume → idempotent
    re-invoke → equivalence vs the default backend → retention delete).
    The parquet leg exercises the body in every CI pass; the Iceberg leg
    auto-skips in this jar-less sandbox."""
    from universal_text_extractor_spark.plans.storage import (
        IcebergStorage,
        ParquetStorage,
        iceberg_available,
    )
    from universal_text_extractor_spark.plans.storage_smoke import (
        run_storage_smoke,
    )

    if backend == "iceberg" and not iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime jar on the classpath")
    storage = ParquetStorage() if backend == "parquet" else IcebergStorage()
    checks = run_storage_smoke(
        spark,
        storage,
        str(tmp_path / "smoke"),
        str(tmp_path / "smoke_ref"),
        n_pages=120,
    )
    assert checks["rows_equal_reference"] == 120
    assert checks["retention_deleted"] > 0


def _metrics_by_bucket(spark, out_dir):
    """bucket → set of run_ids in the metrics table, after checking it
    holds exactly one lineage row per (bucket, partition_id)."""
    m = spark.read.parquet(f"{out_dir}/metrics")
    assert m.schema.simpleString() == METRICS_SCHEMA_DDL
    dupes = m.groupBy("bucket", "partition_id").count().filter("count > 1")
    assert dupes.count() == 0
    got: dict[int, set] = {}
    for r in m.select("bucket", "run_id").collect():
        got.setdefault(r["bucket"], set()).add(r["run_id"])
    return got


def test_metrics_not_duplicated_across_metrics_manifest_crash(
    spark, tmp_path, monkeypatch
):
    """r5 review batch 3: publish order is data -> metrics -> manifest;
    a crash between the last two leaves the bucket pending, so it re-runs
    on resume — its metrics re-publish must REPLACE the orphaned rows,
    not append a duplicate set that double-counts the bucket in every
    consumer forever. The same holds for a crash inside the metrics
    publish itself (new rows written but not yet swapped in; live dir
    retired but the new one not yet promoted): the hidden leftovers are
    never read, and the next publish restores a retired live dir, drops
    the other leftovers, and then replaces the bucket."""
    pages = generate_pages_df(spark, 120, partitions=2)
    out = str(tmp_path / "mmwin")
    metrics = f"{out}/metrics"

    def run(run_id, **kw):
        return run_extraction(
            spark, pages, out, n_buckets=3, num_partitions=2, run_id=run_id, **kw
        )

    class CrashBeforeManifest(ParquetStorage):
        def append_manifest(self, *args, **kwargs):
            raise RuntimeError("injected failure between metrics and manifest")

    with pytest.raises(RuntimeError, match="injected failure"):
        run("a1", fail_after_buckets=1)  # bucket 0 committed
    with pytest.raises(RuntimeError, match="between metrics and manifest"):
        run("a2", storage=CrashBeforeManifest())  # bucket 1 orphaned
    assert _metrics_by_bucket(spark, out) == {0: {"a1"}, 1: {"a2"}}
    # the orphaned bucket re-runs: its re-publish replaces the live rows
    with pytest.raises(RuntimeError, match="between metrics and manifest"):
        run("a2b", storage=CrashBeforeManifest())
    assert _metrics_by_bucket(spark, out) == {0: {"a1"}, 1: {"a2b"}}
    assert not [e for e in os.listdir(metrics) if e.startswith(".")]

    # crash after the new rows are written, before the swap
    _crash_metrics_rename(monkeypatch, out, 1)
    with pytest.raises(RuntimeError, match="injected crash in metrics publish"):
        run("a3")
    monkeypatch.undo()
    assert os.path.isdir(f"{metrics}/.tmp-bucket=1")
    assert _metrics_by_bucket(spark, out) == {0: {"a1"}, 1: {"a2b"}}

    # crash between the renames: bucket 1 has no live dir, only leftovers
    _crash_metrics_rename(monkeypatch, out, 2)
    with pytest.raises(RuntimeError, match="injected crash in metrics publish"):
        run("a4")
    monkeypatch.undo()
    assert {".tmp-bucket=1", ".old-bucket=1"} <= set(os.listdir(metrics))
    assert _metrics_by_bucket(spark, out) == {0: {"a1"}}

    r = run("a5")
    assert r.committed_buckets == [1, 2] and r.skipped_buckets == [0]
    assert not [e for e in os.listdir(metrics) if e.startswith(".")]
    assert _metrics_by_bucket(spark, out) == {0: {"a1"}, 1: {"a5"}, 2: {"a5"}}
    # and doc_count totals reconcile with the actual extracted table
    m = spark.read.parquet(metrics)
    total = sum(r["doc_count"] for r in m.collect())
    assert total == read_extracted(spark, out).count() == 120


def test_spark_written_control_tables_resume(spark, tmp_path):
    """An out_dir whose _manifest and metrics/bucket=* were written as
    Spark jobs (the earlier layout, with _SUCCESS and .crc side files)
    resumes under the driver-side publish and reads as one table with the
    same schema. Retention's delete-all republishes each bucket as a
    zero-row file, the next publish adds to that table, and a corrupt
    manifest raises."""
    import shutil

    pages = generate_pages_df(spark, 120, partitions=2)
    out = str(tmp_path / "compat")
    metrics, manifest = f"{out}/metrics", f"{out}/_manifest"

    def run(**kw):
        return run_extraction(
            spark, pages, out, n_buckets=3, num_partitions=2, **kw
        )

    with pytest.raises(RuntimeError, match="injected failure"):
        run(fail_after_buckets=1)
    m = spark.read.parquet(metrics)
    m_rows, m_schema = m.collect(), m.schema
    man_rows = spark.read.parquet(manifest).collect()
    shutil.rmtree(metrics)
    shutil.rmtree(manifest)
    spark.createDataFrame(m_rows, m_schema).write.partitionBy("bucket").parquet(
        metrics
    )
    spark.createDataFrame(man_rows, "bucket int, run_id string").write.parquet(
        manifest
    )
    assert "_SUCCESS" in os.listdir(manifest)
    assert any(e.endswith(".crc") for e in os.listdir(f"{metrics}/bucket=0"))
    assert committed_buckets(spark, out) == [0]

    # resume one bucket into the mixed layout: one table, schema pinned
    with pytest.raises(RuntimeError, match="injected failure"):
        run(fail_after_buckets=1)
    assert committed_buckets(spark, out) == [0, 1]
    assert set(_metrics_by_bucket(spark, out)) == {0, 1}

    # delete-all keeps the bucket layout and the schema, with no rows
    n = spark.read.parquet(metrics).count()
    assert STORE.delete_metrics_before(spark, out, "2100-01-01 00:00:00") == n
    assert _metrics_by_bucket(spark, out) == {}
    assert sorted(
        e for e in os.listdir(metrics) if not e.startswith((".", "_"))
    ) == ["bucket=0", "bucket=1"]
    r = run()
    assert r.committed_buckets == [2]
    assert set(_metrics_by_bucket(spark, out)) == {2}
    total = spark.read.parquet(metrics).agg(F.sum("doc_count")).collect()[0][0]
    assert total == r.rows_written == _bucket_count(spark, out, 2)
    assert read_extracted(spark, out).count() == 120

    # a corrupt manifest raises instead of reading as "nothing committed"
    with open(f"{manifest}/part-9-corrupt.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        committed_buckets(spark, out)


def test_control_plane_launches_no_spark_jobs(spark, tmp_path):
    """A commit group is one Spark job family: its extraction write. The
    lineage rows come from that job, and the metrics publish, the manifest
    publish and the manifest read run on the driver, so a crashed run and
    its resume launch no Spark job outside the stage_pages, read_stage and
    write_bucket calls. Jobs are counted per storage call through its job
    group, every other job lands in the runs' outer group, and
    write_bucket's group is the positive control that the counting works."""
    sc = spark.sparkContext
    outer = f"{tmp_path.name}-outside-storage"
    groups: list[tuple[str, str]] = []

    class Grouped(ParquetStorage):
        def __getattribute__(self, name):
            attr = super().__getattribute__(name)
            if callable(attr) and not name.startswith("_"):
                def wrapped(*a, **k):
                    group = f"{tmp_path.name}-{len(groups)}-{name}"
                    groups.append((name, group))
                    sc.setJobGroup(group, name)
                    try:
                        return attr(*a, **k)
                    finally:
                        sc.setJobGroup(outer, "outside storage calls")
                return wrapped
            return attr

    pages = generate_pages_df(spark, 100, partitions=2)
    out = str(tmp_path / "jobs")
    sc.setJobGroup(outer, "outside storage calls")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_extraction(
                spark, pages, out, n_buckets=3, num_partitions=2,
                fail_after_buckets=1, storage=Grouped(),
            )
        r = run_extraction(
            spark, pages, out, n_buckets=3, num_partitions=2, storage=Grouped()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r.rows_written + _bucket_count(spark, out, 0) == 100
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are async
    jobs: dict[str, int] = {}
    for name, group in groups:
        jobs[name] = jobs.get(name, 0) + len(
            sc.statusTracker().getJobIdsForGroup(group)
        )
    assert jobs["write_bucket"] >= 3
    assert list(sc.statusTracker().getJobIdsForGroup(outer)) == []
    data_plane = {"stage_pages", "read_stage", "write_bucket"}
    assert {n: c for n, c in jobs.items() if n not in data_plane and c} == {}
    assert [n for n, _ in groups].count("append_metrics") == 3


def test_published_lineage_equals_spark_aggregate(spark, tmp_path):
    """Each bucket's metrics rows come from its group's extraction tasks,
    not from an aggregate over the written bucket: for every bucket of a
    group they must equal ``lineage_metrics(read_bucket(b))`` on every
    column but ``ts`` (the latency too — both sum the same
    ``extract_us``), including having no row for a partition that
    received no pages of that bucket."""
    from universal_text_extractor_spark.operators.extract import (
        lineage_metrics,
    )

    pages = generate_pages_df(spark, 80, partitions=2)
    out = str(tmp_path / "lineage")
    # ~5 rows per task in batches of 2: each task folds several batches,
    # each holding rows of several buckets
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(batch)
    spark.conf.set(batch, "2")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_extraction(
                spark, pages, out, n_buckets=4, num_partitions=16,
                run_id="a", fail_after_buckets=1,
            )
        store = GroupRecording()
        r = run_extraction(
            spark, pages, out, n_buckets=4, num_partitions=16, run_id="b",
            storage=store,
        )
    finally:
        spark.conf.set(batch, default)
    assert store.groups == [[1, 2, 3]]  # the resume is one group
    m = spark.read.parquet(f"{out}/metrics")
    assert m.schema.simpleString() == METRICS_SCHEMA_DDL
    cols = [c for c in m.columns if c != "ts"]
    published = 0
    for b in range(4):
        got = sorted(
            tuple(row)
            for row in m.filter(F.col("bucket") == b).select(*cols).collect()
        )
        want = sorted(
            tuple(row)
            for row in lineage_metrics(
                STORE.read_bucket(spark, out, b), "a" if b == 0 else "b"
            )
            .withColumn("bucket", F.lit(b))
            .select(*cols)
            .collect()
        )
        assert got == want, b
        # ~20 pages per bucket over 16 partitions: some partitions stay empty
        assert 0 < len(got) < 16
        published += sum(row[1] for row in got)
    assert published == 80
    assert r.rows_written == 80 - STORE.read_bucket(spark, out, 0).count()


def test_unpinned_dir_with_commits_refused(spark, tmp_path):
    """r5 review batch 3: a dir with committed buckets but NO n_buckets
    pin (pre-pinning or lost pin) has an unknowable bucket universe —
    resuming under ANY count could silently mis-cover, so it must refuse
    (the old guard only caught counts smaller than the max committed id)."""
    pages = generate_pages_df(spark, 100, partitions=2)
    out = str(tmp_path / "unpinned")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction(
            spark, pages, out, n_buckets=8, num_partitions=2,
            fail_after_buckets=1,
        )
    os.remove(os.path.join(out, "_run.json"))  # simulate a pre-pin dir
    with pytest.raises(ValueError, match="no n_buckets pin"):
        run_extraction(spark, pages, out, n_buckets=4, num_partitions=2)
