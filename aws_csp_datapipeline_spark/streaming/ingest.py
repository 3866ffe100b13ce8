"""Event-time operators for the incremental ingest path — the
reference's Phase-1 design (S3 object upload → trigger → clean →
dedup → load; README.md:42-56). The checkpointed file-source ingest
itself (exactly-once via file-source checkpointing plus an idempotent
dedup inside ``foreachBatch``, the reference's "date check",
README.md:56) is ``plans/q_streaming.st1_stream_ingest_dedup``.
Watermarked event-time windows cover the late-data case the
reference never handled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming aggregation
    shape (late rows beyond the watermark are dropped; state is
    bounded). Works on both a stream and a batch DataFrame (Spark
    window() is the same expression)."""
    w = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        w.groupBy(F.window(F.col(ts_col), window_len).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col(key_col),
            F.col("n"),
            F.col("total"),
        )
    )


def attribution_join(
    purchases: DataFrame,
    clicks: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same
    user's clicks within ``horizon`` before it — the canonical
    two-stream event-time join. The time-range condition plus
    watermarks is what bounds join state on an unbounded stream
    (clicks older than watermark + horizon are evicted); without them
    a stream-stream join would buffer forever. Works identically on
    batch DataFrames (same expression, no watermark), which is how
    the result is verified.
    """
    if purchases.isStreaming:
        purchases = purchases.withWatermark(ts_col, watermark)
        clicks = clicks.withWatermark(ts_col, watermark)
    p = purchases.select(
        F.col(user_col).alias("p_user"),
        F.col(ts_col).alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    c = clicks.select(
        F.col(user_col).alias("c_user"),
        F.col(ts_col).alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    cond = (
        (p.p_user == c.c_user)
        & (c.click_ts <= p.purchase_ts)
        & (c.click_ts >= p.purchase_ts - F.expr(f"INTERVAL {horizon}"))
    )
    return p.join(c, cond, "inner").select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id"
    )
