"""Resume-equivalence property (SURVEY.md §5 item 5): kill after partial
commit, resume, final table equals an uninterrupted single run. Plus
staged-commit partition pruning, retention-delete (incl. crash injection)
and export-sink checks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from universal_text_extractor_spark.plans.pipeline import (
    read_extracted,
    retention_cleanup,
    run_extraction,
)
from universal_text_extractor_spark.sources.pages_gen import generate_pages_df

N = 400


def _table(spark, out_dir):
    return {
        r["url"]: (r["content_type"], r["text"], r["success"])
        for r in read_extracted(spark, out_dir).collect()
    }


def _bucket_count(spark, out_dir, bucket):
    return spark.read.parquet(f"{out_dir}/extracted/bucket={bucket}").count()


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
    assert retention_cleanup(spark, out, "2000-01-01 00:00:00") == 0
    n = spark.read.parquet(f"{out}/metrics").count()
    assert retention_cleanup(spark, out, "2100-01-01 00:00:00") == n


def test_retention_crash_is_safe(spark, tmp_path):
    """Write-then-publish: a crash after the scratch write but before the
    publish leaves the live metrics table fully intact, and the retried
    cleanup completes. A crash BETWEEN the publish renames (live path
    briefly absent) is recovered by the next invocation's preamble."""
    import shutil

    pages = generate_pages_df(spark, 100, partitions=2)
    out = str(tmp_path / "retcrash")
    run_extraction(spark, pages, out, n_buckets=2, num_partitions=2)
    before = spark.read.parquet(f"{out}/metrics").count()
    with pytest.raises(RuntimeError, match="injected crash"):
        retention_cleanup(spark, out, "2100-01-01 00:00:00", fail_before_publish=True)
    assert spark.read.parquet(f"{out}/metrics").count() == before  # untouched

    # simulate the worst crash point: metrics renamed away, scratch not yet
    # promoted (the state the reviewer's scenario leaves behind)
    os.rename(f"{out}/metrics", f"{out}/metrics_old")
    # next cleanup must first restore a live table, then do its delete —
    # the scratch from the injected crash holds the post-delete (empty)
    # table, so recovery promotes it and the delete-all is a no-op
    assert retention_cleanup(spark, out, "2100-01-01 00:00:00") == 0
    assert not os.path.exists(f"{out}/metrics_old")
    # and with no committed scratch, the retired copy is restored instead
    os.rename(f"{out}/metrics", f"{out}/metrics_old")
    shutil.rmtree(f"{out}/metrics_tmp", ignore_errors=True)
    assert retention_cleanup(spark, out, "2000-01-01 00:00:00") == 0
    assert spark.read.parquet(f"{out}/metrics").count() == 0


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


def test_retention_noop_clears_stale_scratch(spark, tmp_path):
    """A committed scratch left by an earlier crash must not survive a
    deleted==0 early return — a stale post-delete snapshot lingering on
    disk could later be wrongly promoted over newer data (ADVICE r2 #3)."""
    pages = generate_pages_df(spark, 100, partitions=2)
    out = str(tmp_path / "staletmp")
    run_extraction(spark, pages, out, n_buckets=2, num_partitions=2)
    with pytest.raises(RuntimeError, match="injected crash"):
        retention_cleanup(spark, out, "2100-01-01 00:00:00", fail_before_publish=True)
    assert os.path.exists(f"{out}/metrics_tmp/_SUCCESS")  # committed scratch
    assert retention_cleanup(spark, out, "2000-01-01 00:00:00") == 0  # no-op
    assert not os.path.exists(f"{out}/metrics_tmp")  # scratch cleared


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


import pytest


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


METRICS_SCHEMA = (
    "struct<partition_id:bigint,doc_count:bigint,input_bytes:bigint,"
    "byte_range_start:bigint,byte_range_end:bigint,failure_count:bigint,"
    "ocr_count:bigint,extraction_latency:double,run_id:string,"
    "ts:timestamp,bucket:int>"
)


def _metrics_by_bucket(spark, out_dir):
    """bucket → set of run_ids in the metrics table, after checking it
    holds exactly one lineage row per (bucket, partition_id)."""
    m = spark.read.parquet(f"{out_dir}/metrics")
    assert m.schema.simpleString() == METRICS_SCHEMA
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
    never read, and the bucket's next publish removes them."""
    pages = generate_pages_df(spark, 120, partitions=2)
    out = str(tmp_path / "mmwin")
    metrics = f"{out}/metrics"

    def run(run_id, **kw):
        return run_extraction(
            spark, pages, out, n_buckets=3, num_partitions=2, run_id=run_id, **kw
        )

    def crash_on_metrics_rename(nth):
        real, seen = os.rename, []

        def rename(src, dst):
            if os.fspath(src).startswith(metrics + "/"):
                seen.append(src)
                if len(seen) == nth:
                    raise RuntimeError("injected crash in metrics publish")
            return real(src, dst)

        return rename

    with pytest.raises(RuntimeError, match="injected failure"):
        run("a1", fail_after_buckets=1)  # bucket 0 committed
    with pytest.raises(RuntimeError, match="between metrics and manifest"):
        run("a2", fail_between_metrics_and_manifest=True)  # bucket 1 orphaned
    assert _metrics_by_bucket(spark, out) == {0: {"a1"}, 1: {"a2"}}
    # the orphaned bucket re-runs: its re-publish replaces the live rows
    with pytest.raises(RuntimeError, match="between metrics and manifest"):
        run("a2b", fail_between_metrics_and_manifest=True)
    assert _metrics_by_bucket(spark, out) == {0: {"a1"}, 1: {"a2b"}}
    assert not [e for e in os.listdir(metrics) if e.startswith(".")]

    # crash after the new rows are written, before the swap
    monkeypatch.setattr(os, "rename", crash_on_metrics_rename(1))
    with pytest.raises(RuntimeError, match="injected crash in metrics publish"):
        run("a3")
    monkeypatch.undo()
    assert os.path.isdir(f"{metrics}/.tmp-bucket=1")
    assert _metrics_by_bucket(spark, out) == {0: {"a1"}, 1: {"a2b"}}

    # crash between the renames: bucket 1 has no live dir, only leftovers
    monkeypatch.setattr(os, "rename", crash_on_metrics_rename(2))
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
    same schema. Retention's delete-all → flat table → re-append path
    keeps working on it, and a corrupt manifest raises."""
    import shutil

    import pyarrow as pa

    from universal_text_extractor_spark.plans.pipeline import committed_buckets

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

    # delete-all publishes a flat empty table; the next publish clears it
    n = spark.read.parquet(metrics).count()
    assert retention_cleanup(spark, out, "2100-01-01 00:00:00") == n
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
    """A bucket commit is one Spark job family: the extraction write. The
    lineage rows come from that job, and the metrics publish, the manifest
    publish and the manifest read run on the driver, so a crashed run and
    its resume launch no Spark job outside the stage_pages, read_stage and
    write_bucket calls. Jobs are counted per storage call through its job
    group, every other job lands in the runs' outer group, and
    write_bucket's group is the positive control that the counting works."""
    from universal_text_extractor_spark.plans.storage import ParquetStorage

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
    """Each bucket's metrics rows come from its extraction tasks, not from
    an aggregate over the written bucket: they must equal
    ``lineage_metrics(read_bucket(b))`` on every column but ``ts`` (the
    latency too — both sum the same ``extract_us``), including having no
    row for a partition that received no pages."""
    from universal_text_extractor_spark.operators.extract import (
        lineage_metrics,
    )
    from universal_text_extractor_spark.plans.storage import DEFAULT_STORAGE

    pages = generate_pages_df(spark, 60, partitions=2)
    out = str(tmp_path / "lineage")
    r = run_extraction(spark, pages, out, n_buckets=3, num_partitions=16)
    m = spark.read.parquet(f"{out}/metrics")
    assert m.schema.simpleString() == METRICS_SCHEMA
    cols = [c for c in m.columns if c != "ts"]
    got = sorted(tuple(row) for row in m.select(*cols).collect())
    want = sorted(
        tuple(row)
        for b in range(3)
        for row in lineage_metrics(
            DEFAULT_STORAGE.read_bucket(spark, out, b), r.run_id
        )
        .withColumn("bucket", F.lit(b))
        .select(*cols)
        .collect()
    )
    assert got == want
    # ~20 pages per bucket over 16 partitions: some partitions stay empty
    assert len(got) < 3 * 16
    assert r.rows_written == sum(row[1] for row in got) == 60


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
    os.remove(os.path.join(out, "_n_buckets"))  # simulate a pre-pin dir
    with pytest.raises(ValueError, match="no n_buckets pin"):
        run_extraction(spark, pages, out, n_buckets=4, num_partitions=2)
