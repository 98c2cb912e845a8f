"""Parquet loaders for the driver-generated testdata tables (TESTDATA.md).

S9-equivalent scan (reference utils/database.py:18-27): Catalyst handles
column pruning / predicate pushdown on the parquet scans — no manual column
lists needed (SURVEY.md §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
