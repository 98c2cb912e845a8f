"""universal_text_extractor_spark — a from-scratch, PySpark-native batch
extraction engine with the query/data-processing capabilities of
jpfrost94/universal-text-extractor (reference at /root/reference, read-only).

Architecture (SURVEY.md §7): pure-Python extraction *kernels* (no Spark
imports — they ARE the pytest-locked byte-identity oracle) are applied
per row inside one `mapInArrow` dispatch (content sniff, then the matching
kernel) over an Iceberg/Parquet `pages` table; analytics, dedup,
similarity-search and text-analysis surfaces are plain DataFrame ops.

No code is copied from the reference; reference file:line citations in
docstrings mark which *behavior* each piece reproduces.
"""

__version__ = "0.1.0"
