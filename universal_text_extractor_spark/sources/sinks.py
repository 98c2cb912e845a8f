"""Export sinks S5-S7 (SURVEY.md §2.1; reference utils/export_utils.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def export_txt(extracted: DataFrame, path: str) -> None:
    """S5: TXT export — identity passthrough of the text column
    (reference export_utils.py:17-18)."""
    extracted.select("text").write.mode("overwrite").text(path)


def export_csv_lines(extracted: DataFrame, path: str) -> None:
    """S6: CSV export — one 'Extracted Text' column, one row per text line
    (reference export_utils.py:20-32)."""
    (
        extracted.select(
            F.explode(F.split(F.col("text"), "\n")).alias("Extracted Text")
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


def export_json(extracted: DataFrame, path: str) -> None:
    """S7: JSON export — extracted_text + timestamp + lines[]
    (reference export_utils.py:34-42)."""
    (
        extracted.select(
            F.col("text").alias("extracted_text"),
            F.current_timestamp().alias("extraction_timestamp"),
            F.split(F.col("text"), "\n").alias("lines"),
        )
        .write.mode("overwrite")
        .json(path)
    )
