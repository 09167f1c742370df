"""Watermarked streaming aggregations (SURVEY.md section 2.6).

The reference has no streaming aggregates (its only "window" is the
retention cutoff), but the engine's event surface (events table / follow
micro-batches) needs the standard late-data-tolerant shapes. These are thin
declarative wrappers — the point is the watermark/window contract, Catalyst
owns the physical plan (streaming state store, partial aggregation).

Scale notes: streaming agg state is partitioned by group key across
executors; the watermark bounds state size (windows older than the
watermark are evicted). Without a watermark an unbounded-key stream grows
state forever — every function here requires one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_activity(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) windowed count/sum
    with a watermark: rows later than ``watermark`` behind the max seen
    event time are dropped; window state below the watermark is evicted.
    Streaming twin of the batch ``agg_time_window`` query."""
    w: Column = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming key dedup with bounded state: duplicates of a key arriving
    within the watermark horizon are dropped, and key state is evicted once
    the watermark passes — the streaming generalisation of the engine's
    deterministic-key idempotent sink (dedup state never grows unbounded,
    unlike a naive ``dropDuplicates`` on an infinite stream)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
