"""Content-type detection as a Column: ``kernels.dispatch.detect_content_type``
mapped over Arrow batches.

The package has one sniffer, ``detect_content_type``; the extraction
dispatch calls it per row in its ``mapInArrow`` task. This module only
exposes the same function as a Column for callers that want a
``content_type`` column without extracting (the benchmark's sniff probe
imports ``content_type_col`` by name).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..kernels.dispatch import detect_content_type


@F.arrow_udf(StringType())
def _detect_content_type(url: pa.Array, html: pa.Array) -> pa.Array:
    return pa.array(
        [detect_content_type(u, h) for u, h in zip(url.to_pylist(), html.to_pylist())],
        pa.string(),
    )


def content_type_col(url: Column, html: Column) -> Column:
    """content_type dispatch column: ``detect_content_type(url, html)``."""
    return _detect_content_type(url, html)
