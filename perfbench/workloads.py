"""The workloads (crawl-extract, resume-crash): set-up, timed operations,
checks; plus the corpus build the traced run probes.

Each ``run_*`` gets a live session whose start time is already counted in
``ctx.setup_s``; it adds its warm-up to set-up, runs the timed operation
until ``ctx.seconds`` have been measured (at least ``MIN_REPS`` times), and
returns per-operation walls plus the collected outputs for the checks.
Every timed operation is warm: the warm-up runs the same code path, on
every worker slot, before the first timed span starts.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from universal_text_extractor_spark.operators.extract import extract_pages_fused
from universal_text_extractor_spark.plans.corpus import build_training_corpus
from universal_text_extractor_spark.plans.pipeline import (
    committed_buckets,
    read_extracted,
    run_extraction,
)
from universal_text_extractor_spark.plans.storage import DEFAULT_STORAGE

from . import checks
from .harness import PeakMemory, Timer

SIZES = {"crawl-extract": 2400, "resume-crash": 1200, "corpus-dupes": 400}
N_BUCKETS = 8  # run_extraction's default
CRASH_AFTER = 2  # the resume commits the other 6: a longer, steadier span
MIN_REPS = 5
WARM_PASSES = 5  # pass walls keep falling through the first ~5 passes


@dataclass
class Ctx:
    spark: object
    meta: dict
    seed: int
    seconds: float
    work: str
    setup_s: float
    pages: list = field(default_factory=list)  # input rows, for checks
    storage: object = DEFAULT_STORAGE
    job_group: object = None  # tracing hook: context manager per layer
    spans: dict = field(default_factory=dict)  # name → last Timer


@dataclass
class Result:
    walls: dict  # op name → list of timed walls (s)
    docs: dict  # op name → documents per op
    failed_docs: int
    total_docs: int
    peak_rss_mb: float
    errors: list
    corruptions: list
    attempted: int
    extra: dict = field(default_factory=dict)


def _group(ctx: Ctx, name: str):
    return nullcontext() if ctx.job_group is None else ctx.job_group(name)


def _timed_loop(ctx: Ctx, op):
    """Run ``op()`` until ``ctx.seconds`` of timed work and ``MIN_REPS``
    runs; returns (walls, last result, peak RSS MB)."""
    walls, out = [], None
    with PeakMemory() as rss:
        while sum(walls) < ctx.seconds or len(walls) < MIN_REPS:
            with Timer() as t:
                out = op()
            walls.append(t.s)
    return walls, out, rss.peak_mb


# --- crawl-extract ---------------------------------------------------------

def fused_pass(ctx: Ctx, path: str, traced: bool = False):
    """One fused extraction pass, reduced to a per-url digest."""
    ext = extract_pages_fused(ctx.spark.read.parquet(path))
    cols = [F.col("url"), F.col("success"), F.md5("text").alias("h")]
    if traced:
        cols += ["extract_us", "partition_id", "content_type"]
    with _group(ctx, "extract"):
        return ext.select(*cols).collect()


def run_crawl_extract(ctx: Ctx) -> Result:
    path = ctx.meta["pages"]
    with Timer() as warm:
        for _ in range(WARM_PASSES):
            fused_pass(ctx, path)
    ctx.setup_s += warm.s
    digests = []

    def op():
        rows = fused_pass(ctx, path, traced=ctx.job_group is not None)
        digests.append(hash(frozenset((r[0], r[1], r[2]) for r in rows)))
        return rows

    walls, rows, peak = _timed_loop(ctx, op)
    urls = [p["url"] for p in ctx.pages]
    expected = checks.oracle(ctx.pages, ctx.seed)
    digest_rows = [(r[0], r[1], r[2]) for r in rows]
    errors = checks.check_extracted(digest_rows, urls, expected)
    if len(set(digests)) != 1:
        errors.append("fused passes over the same input gave different outputs")
    return Result(
        walls={"extract": walls},
        docs={"extract": len(urls)},
        failed_docs=sum(1 for r in rows if not r[1]),
        total_docs=len(rows),
        peak_rss_mb=peak,
        errors=errors,
        corruptions=checks.extracted_corruptions(digest_rows, urls, expected),
        attempted=len(walls),
        extra={"rows": rows},
    )


# --- corpus build (traced runs only) --------------------------------------

def corpus_build(ctx: Ctx, path: str, out: str, verify: bool) -> dict:
    with _group(ctx, "corpus"):
        return build_training_corpus(
            ctx.spark, ctx.spark.read.parquet(path), out, verify_jaccard=verify
        )


# --- resume-crash ----------------------------------------------------------

def crash_run(ctx: Ctx, path: str, out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    try:
        with _group(ctx, "pipeline"):
            run_extraction(
                ctx.spark, ctx.spark.read.parquet(path), out, n_buckets=N_BUCKETS,
                fail_after_buckets=CRASH_AFTER, storage=ctx.storage,
            )
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise RuntimeError("the injected crash did not fire")


def resume_crash(ctx: Ctx, expected: dict, warm_up: bool = True) -> Result:
    """Crash-and-resume cycles: each crashes a bucketed run after
    CRASH_AFTER commits, then resumes it; both calls are timed. The warm-up
    cycle runs staging and every per-bucket step once; the traced run's
    off-path probe skips it."""
    path = ctx.meta["pages"]
    if warm_up:
        with Timer() as warm:
            out = os.path.join(ctx.work, "resume-warm")
            crash_run(ctx, path, out)
            run_extraction(ctx.spark, ctx.spark.read.parquet(path), out,
                           n_buckets=N_BUCKETS, storage=ctx.storage)
        ctx.setup_s += warm.s
    cycle = 0
    walls, crash_walls, runs, errors, corruptions = [], [], [], [], []
    with PeakMemory() as rss:
        while sum(walls) < ctx.seconds or not walls:
            cycle += 1
            out = os.path.join(ctx.work, f"resume-{cycle}")
            with Timer() as crash:
                crash_run(ctx, path, out)
            crash_walls.append(crash.s)
            before = committed_buckets(ctx.spark, out)
            ctx.spans["resume"] = t = Timer()
            with t:
                with _group(ctx, "pipeline"):
                    r = run_extraction(
                        ctx.spark, ctx.spark.read.parquet(path), out,
                        n_buckets=N_BUCKETS, storage=ctx.storage,
                    )
            walls.append(t.s)
            runs.append(r)
            manifest = committed_buckets(ctx.spark, out)
            args = (N_BUCKETS, before, r.committed_buckets, r.skipped_buckets, manifest)
            errors += checks.check_resume(*args)
            corruptions += checks.resume_corruptions(*args)
    urls = [p["url"] for p in ctx.pages]
    rows = [tuple(r) for r in read_extracted(ctx.spark, out)
            .select("url", "success", F.md5("text").alias("h")).collect()]
    errors += checks.check_extracted(rows, urls, expected)
    corruptions += checks.extracted_corruptions(rows, urls, expected)
    return Result(
        walls={"resume": walls, "crash": crash_walls},
        docs={"resume": len(urls)},
        failed_docs=sum(1 for r in rows if not r[1]),
        total_docs=len(rows),
        peak_rss_mb=rss.peak_mb,
        errors=errors,
        corruptions=corruptions,
        attempted=len(walls),
        extra={"runs": runs},
    )


def run_resume_crash(ctx: Ctx) -> Result:
    return resume_crash(ctx, checks.oracle(ctx.pages, ctx.seed))


WORKLOADS = {
    "crawl-extract": run_crawl_extract,
    "resume-crash": run_resume_crash,
}
