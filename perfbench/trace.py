"""Traced run: per-layer metrics, measured from the benchmark's own files.

Spans wrap the calls into each layer's public functions; Spark jobs are
grouped per layer with ``setJobGroup`` and their task metrics read back
from Spark's event log after the session stops. Layers a workload does
not exercise are probed: the pipeline on a small slice of the input, the
corpus build and dedup counts on the duplicate-injected corpus-dupes input
(see perfbench/README.md for which figure comes from where).
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from universal_text_extractor_spark.functions.sniff import content_type_col
from universal_text_extractor_spark.kernels.dispatch import (
    detect_content_type,
    extract_payload,
)
from universal_text_extractor_spark.operators.dedup import (
    _shingle_hashes_flat,
    lsh_bands_from_sigs,
    minhash_lsh_pairs_from_flat,
    minhash_signatures_from_flat,
)
from universal_text_extractor_spark.operators.textstats import lang_id_col
from universal_text_extractor_spark.plans.corpus import (
    exact_unique,
    frame_documents,
    quality_filter,
)
from universal_text_extractor_spark.operators.extract import extract_pages_fused
from universal_text_extractor_spark.plans.storage import ParquetStorage

from . import checks, loadgen, workloads
from .harness import Timer, slots

KERNEL_SAMPLE = 300
SLICE = 160  # pages for layers off the workload's own path
STORAGE_OPS = (
    "stage_pages", "stage_is_committed", "read_stage", "write_bucket",
    "read_bucket", "append_metrics", "append_manifest",
    "read_manifest_buckets", "drop_stage",
)
CORPUS_STAGES = ("framed", "quality", "exact", "shingles", "signatures", "corpus")
SPARK_LAYERS = ("extract", "pipeline", "corpus", "dedup")


class TimedStorage:
    """Timing proxy around ``ParquetStorage``: every protocol call is
    recorded as (op, start, end)."""

    def __init__(self):
        self._inner = ParquetStorage()
        self.events: list[tuple[str, float, float]] = []
        for op in STORAGE_OPS:
            setattr(self, op, self._wrap(op))

    def _wrap(self, op):
        fn = getattr(self._inner, op)

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.events.append((op, t0, time.perf_counter()))

        return timed


class Tracer:
    def __init__(self, ctx):
        self.ctx = ctx
        self.storage = TimedStorage()
        ctx.storage = self.storage
        ctx.job_group = self.job_group
        self.m: dict[str, tuple[float, str]] = {}
        self.errors: list[str] = []

    @contextmanager
    def job_group(self, name: str):
        sc = self.ctx.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def put(self, name: str, value: float, unit: str) -> None:
        self.m[name] = (float(value), unit)

    # --- probes --------------------------------------------------------

    def kernels(self) -> float:
        """Single-process loop over ``extract_payload`` on a fixed sample."""
        rng = random.Random(f"kernels:{self.ctx.seed}")
        sample = rng.sample(self.ctx.pages, min(KERNEL_SAMPLE, len(self.ctx.pages)))
        us = defaultdict(list)
        failed = 0
        t_all = time.perf_counter()
        for p in sample:
            ct = detect_content_type(p["url"], p["html"])
            t0 = time.perf_counter()
            ok = extract_payload(p["url"], p["html"], ct)[2]
            us["html" if ct == "html" else "pdf" if ct == "pdf" else "other"].append(
                (time.perf_counter() - t0) * 1e6
            )
            failed += not ok
        rate = len(sample) / (time.perf_counter() - t_all)
        self.put("kernels.docs_per_s", rate, "docs/s")
        for fam in ("html", "pdf", "other"):
            self.put(f"kernels.{fam}.us_per_doc", statistics.fmean(us[fam] or [0.0]), "us")
        self.put("kernels.failed", failed, "count")
        return rate

    def sniff(self, path: str) -> None:
        spark = self.ctx.spark
        walls = []
        for _ in range(3):
            df = spark.read.parquet(path)
            with Timer() as t:
                df.groupBy(content_type_col(F.col("url"), F.col("html")).alias("ct")).count().collect()
            walls.append(t.s)
        self.put("functions.sniff.s", statistics.median(walls[1:]), "s")

    def extract(self, rows, walls: list[float], kernel_rate: float) -> None:
        n = slots()
        wall = statistics.median(walls)
        kernel_s = sum(r["extract_us"] for r in rows) / 1e6
        per_part = defaultdict(int)
        for r in rows:
            per_part[r["partition_id"]] += r["extract_us"]
        self.put("operators.extract.wall_s", wall, "s")
        self.put("operators.extract.kernel_s", kernel_s, "s")
        self.put("operators.extract.overhead_s", wall * n - kernel_s, "s")
        self.put("operators.extract.kernel_share", kernel_s / (wall * n), "frac")
        self.put("operators.extract.parallel_eff", len(rows) / wall / (n * kernel_rate), "frac")
        self.put("operators.extract.task_skew",
                 max(per_part.values()) / statistics.fmean(per_part.values()), "ratio")
        self.put("trace.docs_per_s", len(rows) / wall, "docs/s")

    def extract_probe(self, path: str, kernel_rate: float) -> None:
        ctx = self.ctx
        workloads.fused_pass(ctx, path)
        walls, rows = [], None
        for _ in range(workloads.MIN_REPS):
            with Timer() as t:
                rows = workloads.fused_pass(ctx, path, traced=True)
            walls.append(t.s)
        self.extract(rows, walls, kernel_rate)

    def pipeline(self, span: Timer, runs) -> None:
        """Storage figures cover the last crash run and its resume (only
        the crash run stages the input); the accounting covers the resume."""
        ev = [e for e in self.storage.events if span.t0 <= e[1] and e[2] <= span.t1]
        cycle = self.storage.events[self._last_cycle_start():]
        for op in STORAGE_OPS:
            mine = [e[2] - e[1] for e in cycle if e[0] == op]
            self.put(f"plans.storage.{op}.s", sum(mine), "s")
            self.put(f"plans.storage.{op}.calls", len(mine), "count")
        # lineage_metrics runs between a bucket's read-back and its metrics
        # publish; no storage call brackets anything else in that gap
        lineage = 0.0
        last_read = None
        for op, t0, t1 in ev:
            if op == "read_bucket":
                last_read = t1
            elif op == "append_metrics" and last_read is not None:
                lineage += t0 - last_read
                last_read = None
        storage_s = sum(e[2] - e[1] for e in ev)
        publish = sum(e[2] - e[1] for e in ev if e[0] in ("read_bucket", "append_metrics", "append_manifest"))
        buckets = len(runs[-1].committed_buckets)
        self.put("plans.pipeline.resume_s", span.s, "s")
        self.put("plans.pipeline.per_bucket_s", span.s / max(buckets, 1), "s")
        self.put("plans.pipeline.commit_share", (publish + lineage) / span.s, "frac")
        self.put("plans.pipeline.buckets_resumed", buckets, "count")
        self.put("plans.pipeline.unaccounted_s", span.s - storage_s - lineage, "s")
        self.put("operators.extract.lineage_metrics.s", lineage, "s")

    def _last_cycle_start(self) -> int:
        """Index of the last crash run's first storage event: every run
        opens with a manifest read, and a cycle is two runs."""
        starts = [i for i, e in enumerate(self.storage.events) if e[0] == "read_manifest_buckets"]
        return starts[-2]

    def pipeline_probe(self, path: str) -> None:
        ctx = self.ctx
        pages = ctx.pages[:SLICE]
        probe = workloads.Ctx(**{**ctx.__dict__, "meta": dict(ctx.meta, pages=path),
                                 "pages": pages, "spans": {}})
        res = workloads.resume_crash(probe, checks.oracle(pages, ctx.seed, k=8), warm_up=False)
        self.pipeline(probe.spans["resume"], res.extra["runs"])

    def corpus(self, out_dirs: dict) -> None:
        spark = self.ctx.spark
        walls = {}
        for out in out_dirs.values():
            for r in spark.read.parquet(f"{out}/stage_metrics").collect():
                walls[r["stage"]] = (r["wall_sec"], r["rows"])
        for st in CORPUS_STAGES:
            s, rows = walls[st]
            self.put(f"plans.corpus.{st}.s", s, "s")
            self.put(f"plans.corpus.{st}.rows", rows, "count")

    def corpus_probe(self, dupes: dict) -> None:
        """One build per near-dup mode on the duplicate-injected input
        (the first, verified-pair, pays the corpus path's cold start);
        survivors are checked against the injected groups."""
        spark, path = self.ctx.spark, dupes["pages"]
        urls = [r["url"] for r in loadgen.read_rows(path)]
        outs = {}
        for v, mode in ((True, "verified-pair"), (False, "bucket-min")):
            outs[v] = os.path.join(self.ctx.work, f"probe-corpus-{v}")
            workloads.corpus_build(self.ctx, path, outs[v], v)
            surv = [r[0] for r in spark.read.parquet(f"{outs[v]}/corpus").select("url").collect()]
            self.errors += [f"{mode}: {e}" for e in checks.check_corpus(surv, dupes["groups"], urls)]
        self.corpus(outs)

    def dedup(self, path: str) -> None:
        """Textstats and dedup layer counts from their public functions,
        over the exact-deduplicated documents of ``path``."""
        spark = self.ctx.spark
        base = os.path.join(self.ctx.work, "dedup")
        with self.job_group("dedup"):
            docs = frame_documents(extract_pages_fused(spark.read.parquet(path)))
            exact_unique(quality_filter(docs)).write.mode("overwrite").parquet(f"{base}/exact")
            exact = spark.read.parquet(f"{base}/exact")
            walls = []
            for _ in range(3):
                with Timer() as t:
                    exact.groupBy(lang_id_col(F.col("text")).alias("l")).count().collect()
                walls.append(t.s)
            self.put("operators.textstats.lang_id.s", statistics.median(walls[1:]), "s")
            _shingle_hashes_flat(exact).write.mode("overwrite").parquet(f"{base}/flat")
            flat = spark.read.parquet(f"{base}/flat")
            bands = lsh_bands_from_sigs(minhash_signatures_from_flat(flat)).cache()
            a, b = bands.alias("a"), bands.alias("b")
            cand = a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            ).select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y")).distinct().count()
            pairs = minhash_lsh_pairs_from_flat(flat, threshold=0.7)
            verified = pairs.count()
            doomed_vp = pairs.select("doc_b").distinct().count()
            sizes = bands.groupBy("band", "bucket").agg(
                F.count("*").alias("n"), F.min("doc_id").alias("min_id"))
            max_bucket = sizes.agg(F.max("n")).collect()[0][0] or 0
            doomed_bm = (
                bands.join(sizes, ["band", "bucket"])
                .filter(F.col("doc_id") != F.col("min_id"))
                .select("doc_id").distinct().count()
            )
            self.put("operators.dedup.shingle_rows", flat.count(), "count")
            bands.unpersist()
        self.put("operators.dedup.candidate_pairs", cand, "count")
        self.put("operators.dedup.verified_pairs", verified, "count")
        self.put("operators.dedup.verified_per_candidate", verified / max(cand, 1), "frac")
        self.put("operators.dedup.max_bucket_docs", max_bucket, "count")
        self.put("operators.dedup.doomed.verified_pair", doomed_vp, "count")
        self.put("operators.dedup.doomed.bucket_min", doomed_bm, "count")

    # --- entry points ----------------------------------------------------

    def layers(self, workload: str, res) -> dict:
        ctx = self.ctx
        pages = ctx.meta["pages"]
        rate = self.kernels()
        self.sniff(pages)
        if workload == "crawl-extract":
            self.extract([r.asDict() for r in res.extra["rows"]], res.walls["extract"], rate)
            slice_path = os.path.join(ctx.work, "slice.parquet")
            loadgen.write_parquet(ctx.pages[:SLICE], slice_path)
            self.pipeline_probe(slice_path)
        else:
            self.extract_probe(pages, rate)
            self.pipeline(ctx.spans["resume"], res.extra["runs"])
        self.corpus_probe(ctx.meta["dupes"])
        self.dedup(ctx.meta["dupes"]["pages"])
        return {k: {"value": v, "unit": u} for k, (v, u) in self.m.items()}

    def spark_layers(self, events_dir: str) -> dict:
        """Task metrics per layer from the event log (read after stop)."""
        group_of_stage: dict[int, str] = {}
        acc = {g: defaultdict(float) for g in SPARK_LAYERS}
        files = glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)
        for path in filter(os.path.isfile, files):
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                        for sid in e.get("Stage IDs", []):
                            group_of_stage[sid] = g
                    elif kind == "SparkListenerTaskEnd":
                        g = group_of_stage.get(e.get("Stage ID"))
                        if g not in acc:
                            continue
                        tm = e.get("Task Metrics") or {}
                        a = acc[g]
                        a["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0) / 2**20
                        a["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                          + tm.get("Disk Bytes Spilled", 0)) / 2**20
                        a["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                        reason = (e.get("Task End Reason") or {}).get("Reason")
                        a["tasks_failed"] += reason != "Success"
        units = {"shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s", "tasks_failed": "count"}
        return {
            f"spark.{g}.{k}": {"value": acc[g][k], "unit": u}
            for g in SPARK_LAYERS for k, u in units.items()
        }
