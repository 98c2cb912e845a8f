"""Stateful Structured-Streaming operators (task brief: "watermarks +
windowed aggs for late data; applyInPandasWithState for custom stateful
operators").

The batch pipeline stays the primary design (SURVEY.md §2.5); these are
the incremental-arrival complements:

- :func:`stream_dedup_urls` — cross-micro-batch URL dedup with a
  watermark bound on state (the streaming twin of exact dedup dd1/dd2;
  state size is bounded by the watermark horizon, so it survives an
  unbounded stream).
- :func:`host_running_totals` — custom stateful aggregation via
  ``applyInPandasWithState``: per-host running document/byte totals that
  persist across micro-batches (the streaming twin of the per-partition
  lineage rollup). Arrow-batched; state is one small tuple per host key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.text_funcs import host_col

HOST_TOTALS_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("doc_count", LongType()),
        StructField("total_bytes", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("doc_count", LongType()),
        StructField("total_bytes", LongType()),
    ]
)


def stream_dedup_urls(pages_stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Keep the first arrival of each url across micro-batches; duplicate
    urls arriving within the watermark horizon are dropped exactly-once.
    ``dropDuplicatesWithinWatermark`` lets the engine evict per-url state
    once the watermark passes — bounded state on an unbounded stream
    (plain ``dropDuplicates`` on a stream grows state forever)."""
    return pages_stream.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["url"])


def host_running_totals(
    pages_stream: DataFrame, state_ttl_ms: int | None = None
) -> DataFrame:
    """Per-host running (doc_count, total_bytes) maintained across
    micro-batches with ``applyInPandasWithState``. Output mode: update —
    each trigger emits the new totals for hosts seen in that batch.

    State bound: with the default ``state_ttl_ms=None`` the per-host state
    is NEVER evicted — fine for a bounded host universe (a fixed crawl
    frontier) but a leak on an open-world stream. Pass a TTL to evict
    hosts idle longer than ``state_ttl_ms`` (ProcessingTimeTimeout); an
    evicted host's totals restart from zero on its next arrival, i.e. the
    rollup degrades to per-TTL-epoch totals rather than all-time —
    the standard trade for bounded state on an unbounded key space."""
    use_ttl = state_ttl_ms is not None

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            doc_count, total_bytes = state.get
        else:
            doc_count, total_bytes = 0, 0
        for pdf in pdfs:
            doc_count += len(pdf)
            total_bytes += int(pdf["n_bytes"].sum())
        state.update((doc_count, total_bytes))
        if use_ttl:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "doc_count": [doc_count],
                "total_bytes": [total_bytes],
            }
        )

    keyed = pages_stream.select(
        host_col(F.col("url")).alias("host"),
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("n_bytes"),
    ).groupBy("host")
    return keyed.applyInPandasWithState(
        update,
        outputStructType=HOST_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_ttl
            else GroupStateTimeout.NoTimeout
        ),
    )


def stream_user_sessions(
    events_stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming session windows (the incremental twin of
    analytics.user_sessions): events of a user within ``gap`` merge into
    one session whose state stays open across micro-batches AND restarts;
    the watermark both bounds state and finalizes sessions (append mode
    emits a session once the watermark passes its end). State per open
    session is one small aggregate — bounded by the number of concurrently
    open sessions inside the watermark horizon, not by history."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
