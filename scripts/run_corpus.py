#!/usr/bin/env python
"""spark-submit entry point for the crawl→training-corpus pipeline
(plans/corpus.py): extraction → language ID → quality purge → exact
dedup → MinHash near-dup purge → corpus + stats parquet.

    spark-submit --driver-memory 16g --py-files dist/utes.zip \
        scripts/run_corpus.py \
        --pages /data/crawl --warc --out /data/corpus_out \
        --lang en de fr --near-dup-threshold 0.7

Size the JVM like any real Spark job — the dedup stages cache the
quality/exact document sets while shingles explode (plans/corpus.py
docstring has the measured guidance).
"""

from __future__ import annotations

import argparse
import pathlib
import sys

# plain `python scripts/run_corpus.py` puts scripts/ (not the repo root)
# on sys.path; under spark-submit the --py-files zip provides the package
# instead, and this line is a harmless no-op on a cluster
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="pages parquet or WARC path")
    ap.add_argument("--extracted", default=None,
                    help="committed run_extraction output dir (skips the "
                         "extraction stage; resumable runs happen there)")
    ap.add_argument("--out", required=True, help="output dir (corpus/ stats/)")
    ap.add_argument("--warc", action="store_true",
                    help="--pages points at .warc/.warc.gz archives")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--lang", nargs="*", default=None,
                    help="language allowlist (predicted lang), e.g. en de")
    ap.add_argument("--min-tokens", type=int, default=15)
    ap.add_argument("--min-alpha-ratio", type=float, default=0.81)
    ap.add_argument("--near-dup-threshold", type=float, default=0.7)
    ap.add_argument("--no-verify-jaccard", action="store_true",
                    help="pair-free bucket-min near-dup purge (the linear "
                         "100-TB fast path; trades recall precision)")
    ap.add_argument("--near-dup-closure", action="store_true",
                    help="transitive-closure near-dup semantics: one "
                         "survivor per connected component of the "
                         "verified-pair graph (default: keep-first)")
    ap.add_argument("--use-ocr", action="store_true")
    ap.add_argument("--main-content", action="store_true")
    args = ap.parse_args()
    if args.near_dup_closure and args.no_verify_jaccard:
        ap.error(
            "--near-dup-closure requires the verified-pair path; "
            "drop --no-verify-jaccard (closure is defined over the "
            "verified-pair graph)"
        )
    if args.extracted and (args.use_ocr or args.main_content or args.warc):
        # same contract as the closure/no-verify guard: flags that only
        # affect a stage this invocation skips must fail loudly, not
        # silently do nothing (--extracted reuses a committed extraction
        # run — OCR/main-content/WARC choices were made by THAT run)
        ap.error(
            "--use-ocr/--main-content/--warc configure the extraction "
            "stage, which --extracted skips; re-run the extraction with "
            "those flags instead"
        )
    if not (args.pages or args.extracted):
        # fail before the Spark session spins up
        ap.error("need --pages or --extracted")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("utes-corpus")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    extracted = None
    pages = None
    if args.extracted:
        extracted = spark.read.parquet(f"{args.extracted}/extracted")
    elif args.warc:
        from universal_text_extractor_spark.sources.warc import read_warc

        pages = read_warc(spark, args.pages)
    else:  # args.pages — guaranteed by the pre-session guard
        pages = spark.read.parquet(args.pages)

    from universal_text_extractor_spark.kernels.options import ExtractOptions
    from universal_text_extractor_spark.plans.corpus import build_training_corpus

    stats = build_training_corpus(
        spark, pages, args.out,
        extracted=extracted,
        min_alpha_ratio=args.min_alpha_ratio,
        min_tokens=args.min_tokens,
        lang_allow=args.lang,
        near_dup_threshold=args.near_dup_threshold,
        verify_jaccard=not args.no_verify_jaccard,
        near_dup_closure=args.near_dup_closure,
        num_partitions=args.partitions,
        options=ExtractOptions(
            use_ocr=args.use_ocr, main_content=args.main_content
        ),
    )
    print(" -> ".join(f"{k}={v}" for k, v in stats.items()))
    spark.stop()


if __name__ == "__main__":
    main()
