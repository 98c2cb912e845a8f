#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north-star launch
path). Package the library once, then submit:

    python scripts/make_pyfiles.py                       # → dist/utes.zip
    spark-submit --py-files dist/utes.zip \
        scripts/run_pipeline.py \
        --pages /data/pages_parquet --out /data/extract_out \
        --buckets 64 --partitions 256

On a cluster, add --master / executor confs as usual; in this sandbox it
runs on local[*]. Re-running with the same --out resumes from the last
committed bucket (anti-join manifest; Iceberg snapshots in production),
but only with the same --buckets and extraction flags: --out/_run.json
records them, and a re-run with others is refused.
"""

from __future__ import annotations

import argparse
import pathlib
import sys

# plain `python scripts/run_pipeline.py` puts scripts/ (not the repo root)
# on sys.path; under spark-submit the --py-files zip provides the package
# instead, and this line is a harmless no-op on a cluster
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="input pages parquet path")
    ap.add_argument("--out", required=True, help="output dir (extracted/ metrics/ _manifest/)")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--generate-rows", type=int, default=None,
                    help="generate a synthetic pages table at --pages first")
    ap.add_argument("--use-ocr", action="store_true",
                    help="run the K13 glyph recognizer on image payloads "
                         "and scanned PDF pages (D8 consequent)")
    ap.add_argument("--ocr-language", default="eng",
                    help="OCR language code (reference remap table; "
                         "unknown codes yield the no-text literal)")
    ap.add_argument("--handwriting", action="store_true",
                    help="handwriting mode: char-whitelist pass + "
                         "per-word-grid retry (PSM-6/PSM-8 analogue)")
    ap.add_argument("--legacy-office", action="store_true",
                    help="parse legacy .doc/.ppt binaries for real "
                         "([MS-DOC]/[MS-PPT]) instead of the reference's "
                         "informative literals")
    ap.add_argument("--main-content", action="store_true",
                    help="HTML branch emits Readability-style main content "
                         "(boilerplate removed) instead of full-page text")
    ap.add_argument("--warc", action="store_true",
                    help="--pages points at .warc/.warc.gz archives "
                         "(Common Crawl layout) instead of a parquet table")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("utes-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.generate_rows:
        from universal_text_extractor_spark.sources.pages_gen import generate_pages_df

        generate_pages_df(spark, args.generate_rows).write.mode("overwrite").parquet(
            args.pages
        )

    from universal_text_extractor_spark.kernels.options import ExtractOptions
    from universal_text_extractor_spark.plans.pipeline import run_extraction

    if args.warc:
        from universal_text_extractor_spark.sources.warc import read_warc

        pages = read_warc(spark, args.pages)
    else:
        pages = spark.read.parquet(args.pages)
    run = run_extraction(
        spark, pages, args.out, n_buckets=args.buckets,
        num_partitions=args.partitions,
        options=ExtractOptions(
            use_ocr=args.use_ocr, main_content=args.main_content,
            ocr_language=args.ocr_language, handwriting_mode=args.handwriting,
            legacy_office=args.legacy_office,
        ),
    )
    print(
        f"run {run.run_id}: committed {len(run.committed_buckets)} buckets "
        f"({run.rows_written} rows) in {run.wall_secs:.1f}s; "
        f"skipped {len(run.skipped_buckets)} already-done buckets"
    )
    spark.stop()


if __name__ == "__main__":
    main()
