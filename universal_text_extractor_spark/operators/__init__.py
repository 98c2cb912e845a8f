from .extract import (
    RESULT_SCHEMA,
    extract_pages_fused,
    lineage_metrics,
)

__all__ = [
    "extract_pages_fused",
    "lineage_metrics",
    "RESULT_SCHEMA",
]
