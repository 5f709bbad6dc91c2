"""Event-time windowed aggregations with watermarks.

Late data is bounded by the watermark: state for a window is dropped once the
watermark passes its end, so long-running streams hold O(open windows × keys) state,
not O(stream). The same plans run in batch mode (a batch DataFrame accepts
``F.window`` identically) — that's what the ``stream_tumbling_window`` registry query
exercises against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ortholog_pipeline_spark.streaming.state_conf import ensure_state_store_conf


def tumbling_agg(
    events: DataFrame,
    window_size: str = "1 day",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type."""
    src = events
    if src.isStreaming:
        ensure_state_store_conf(src.sparkSession)
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window_size), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_size: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window event counts per user — the rate-monitor shape."""
    src = events
    if src.isStreaming:
        ensure_state_store_conf(src.sparkSession)
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window_size, slide), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "n_events",
        )
    )
