"""Event-time windowed aggregation — the extension BEYOND the
reference (its DataLoader has no watermark, no event-time window, no
stateful op anywhere — SURVEY.md §3.4). The logical plan here is the
streaming twin of the batch query ``events_tumbling_hourly``: the same
groupBy(window(...)) aggregate, run incrementally with late-data
handling. Tests drive a parquet file-stream of the events table through
it and assert equality with the batch result — micro-batch vs batch
plan equivalence is exactly what Structured Streaming guarantees.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from algorithmproject_spark_spark.functions.numeric import ss_scaled_long


def windowed_value_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) event-time window with
    watermark: count + exact cents sum per (window, type).

    Works on a batch OR streaming DataFrame — same plan, Catalyst
    picks stateful execution for streams. Sums are scaled BIGINTs, so
    state merge order can't perturb results.
    """
    win: Column = (
        F.window(ts_col, window) if slide is None else F.window(ts_col, window, slide)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), type_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"sum({ss_scaled_long(value_col, 100)})").alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(type_col),
            "n",
            "value_cents",
        )
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based), the streaming-native form of the
    lag-gap sessionization in ``window_lag_session_gap``."""
    return (
        events.withWatermark(ts_col, "2 hours")
        .groupBy(F.session_window(ts_col, gap).alias("s"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            F.col(user_col),
            "n_events",
        )
    )
