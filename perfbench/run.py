"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl-extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates (or reuses) the seeded input,
starts a local[nproc] Spark session, warms up, measures for ``--seconds``,
checks the outputs, and prints one JSON object as the last stdout line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Exits non-zero when the engine package is not in the checkout or a
correctness check fails. Metric definitions: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
PACKAGE = "universal_text_extractor_spark"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl-extract", "resume-crash"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _bootstrap() -> None:
    """Import the engine from this checkout only, and let Spark's Python
    workers do the same."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"perfbench: no {PACKAGE}/ in {ROOT}; run from a checkout root")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def end_to_end(workload: str, res, setup_s: float) -> dict:
    from statistics import median

    if workload == "crawl-extract":
        wall = median(res.walls["extract"])
        docs_per_s = res.docs["extract"] / wall
        resume_s = wall  # no checkpoints: a restart re-runs the whole pass
    else:
        # the whole job: the crashed run plus its resume process every page once
        docs_per_s = median(
            res.docs["resume"] / (c + r) for c, r in zip(res.walls["crash"], res.walls["resume"])
        )
        resume_s = median(res.walls["resume"])
    m = {
        "docs_per_s": (docs_per_s, "docs/s"),
        "resume_s": (resume_s, "s"),
        "docs_failed_frac": (res.failed_docs / res.total_docs, "frac"),
        "peak_rss_mb": (res.peak_rss_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    _bootstrap()
    from perfbench import checks, harness, loadgen, workloads

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    data = os.path.join(state, "data")
    meta = loadgen.ensure_inputs(data, args.workload, args.seed, workloads.SIZES[args.workload])
    if args.trace:
        meta["dupes"] = loadgen.ensure_inputs(
            data, "corpus-dupes", args.seed, workloads.SIZES["corpus-dupes"])
    pages = loadgen.read_rows(meta["pages"])
    phases = {"inputs": time.perf_counter() - t_start}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(work, trace=bool(args.trace))
        ctx = workloads.Ctx(
            spark=spark, meta=meta, seed=args.seed, seconds=args.seconds,
            work=work, setup_s=0.0, pages=pages,
        )
        tracer = None
        if args.trace:
            from perfbench import trace

            tracer = trace.Tracer(ctx)
        ctx.setup_s = time.perf_counter() - t0
        phases["session"] = ctx.setup_s
        res = workloads.WORKLOADS[args.workload](ctx)
        phases["workload"] = time.perf_counter() - t0 - phases["session"]
        phases["warm_up"] = ctx.setup_s - phases["session"]
        layer = tracer.layers(args.workload, res) if tracer else None
        if tracer:
            res.errors += tracer.errors
    finally:
        if spark is not None:
            harness.stop_session(spark)
    if tracer:
        layer.update(tracer.spark_layers(os.path.join(work, "events")))
    shutil.rmtree(work, ignore_errors=True)
    phases["total"] = time.perf_counter() - t_start

    errors = list(res.errors)
    errors += checks.corruption_self_test(res.corruptions)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} input={json.dumps(meta['properties'])} "
        f"walls={json.dumps({k: [round(w, 3) for w in v] for k, v in res.walls.items()})} "
        f"corruption_cases={len(res.corruptions)} "
        f"phases_s={json.dumps({k: round(v, 2) for k, v in phases.items()})}",
        file=sys.stderr,
    )
    metrics = layer if args.trace else end_to_end(args.workload, res, ctx.setup_s)
    print(json.dumps({
        "correct": not errors,
        "attempted": res.attempted,
        "failed": res.attempted if errors else 0,
        "metrics": metrics,
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
