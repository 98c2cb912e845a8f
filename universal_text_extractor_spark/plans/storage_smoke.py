"""The storage-backend smoke SCENARIO — one body, two runners (r4
verdict item #4).

``IcebergStorage`` was real code with zero runtime evidence (this
sandbox ships no iceberg-spark-runtime jar, so the seam test's Iceberg
leg always auto-skips). This module makes the missing evidence a
five-minute exercise for the first user WITH a jar: the exact scenario
— stage, bucket commits with a crash between them, resume, idempotent
re-invoke, retention delete through ``delete_metrics_before`` — lives
here once, with no per-backend branch, and is executed by

- ``tests/test_resume.py::test_storage_smoke_scenario`` — the pytest
  runner, parameterized over both backends (the parquet leg runs in
  every CI pass, so the body itself is always exercised; the Iceberg
  leg auto-skips without the jar), and
- ``scripts/iceberg_smoke.py`` — the spark-submit runner for a cluster
  or laptop with the Iceberg runtime on the classpath.

Any assertion failure raises — both runners report the same defect the
same way.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.pages_gen import generate_pages_df
from .pipeline import committed_buckets, run_extraction
from .storage import DEFAULT_STORAGE, StorageBackend


def run_storage_smoke(
    spark: SparkSession,
    storage: StorageBackend,
    out_dir: str,
    reference_dir: str,
    n_pages: int = 200,
    n_buckets: int = 4,
) -> dict:
    """Exercise every StorageBackend operation end-to-end through the
    production pipeline. ``out_dir`` is the run under test (through
    ``storage``); ``reference_dir`` hosts a one-shot default-backend run
    of the same pages for the equivalence check. Returns a checkpoint
    dict (all values also asserted here)."""
    checks: dict = {}
    pages = generate_pages_df(spark, n_pages, partitions=2)

    # 1) crash-injected run: stage + two bucket commits, then die
    try:
        run_extraction(
            spark, pages, out_dir,
            n_buckets=n_buckets, num_partitions=2,
            fail_after_buckets=2, storage=storage,
        )
        raise AssertionError("injected crash did not fire")
    except RuntimeError as e:
        if "injected" not in str(e):
            raise
    done = committed_buckets(spark, out_dir, storage)
    assert len(done) == 2, f"expected 2 committed buckets, got {done}"
    checks["committed_before_crash"] = sorted(done)

    # 2) resume: stage reused, only pending buckets run
    r = run_extraction(
        spark, pages, out_dir,
        n_buckets=n_buckets, num_partitions=2, storage=storage,
    )
    assert sorted(r.skipped_buckets) == sorted(done), r
    assert sorted(r.committed_buckets + r.skipped_buckets) == list(
        range(n_buckets)
    )
    checks["resumed_buckets"] = sorted(r.committed_buckets)

    # 3) idempotent re-invoke: pure manifest read, zero rows written
    again = run_extraction(
        spark, pages, out_dir,
        n_buckets=n_buckets, num_partitions=2, storage=storage,
    )
    assert again.rows_written == 0 and len(again.skipped_buckets) == n_buckets
    checks["idempotent_reinvoke_rows"] = again.rows_written

    # 4) byte-equivalence with a one-shot default-backend run
    run_extraction(
        spark, pages, reference_dir, n_buckets=n_buckets, num_partitions=2
    )
    want = {
        row["url"]: (row["content_type"], row["text"], row["success"])
        for row in spark.read.parquet(f"{reference_dir}/extracted").collect()
    }
    got = {
        row["url"]: (row["content_type"], row["text"], row["success"])
        for b in range(n_buckets)
        for row in storage.read_bucket(spark, out_dir, b).collect()
    }
    assert got == want, "backend output differs from the default backend"
    checks["rows_equal_reference"] = len(got)

    # 5) retention delete on the metrics table through the seam (an SQL
    # DELETE in Iceberg, a per-bucket republish in parquet): a future
    # cutoff deletes as many rows as on the default-backend run, and
    # leaves none for a second pass
    cutoff = "2100-01-01 00:00:00"
    deleted = storage.delete_metrics_before(spark, out_dir, cutoff)
    want = DEFAULT_STORAGE.delete_metrics_before(spark, reference_dir, cutoff)
    assert deleted == want > 0, (deleted, want)
    assert storage.delete_metrics_before(spark, out_dir, cutoff) == 0
    checks["retention_deleted"] = deleted
    return checks
