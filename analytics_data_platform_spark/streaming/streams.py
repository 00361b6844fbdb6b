"""Streaming operators over an events stream.

``join_purchases_with_clicks`` takes two streaming DataFrames
(``spark.readStream`` sources) and returns the joined streaming
DataFrame; callers attach the sink. Event-time watermarks on both sides
make it late-data-safe and bound its state. The registry's other
streaming queries (windowed counts, watermark dedup, session windows,
arbitrary stateful totals) build their streams inline in
queries/streaming_ops.py, each oracle-gated over a file source +
``trigger(availableNow=True)`` so the same code path that would run
against Kafka runs deterministically in CI.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    return events.withWatermark("ts", delay)


def join_purchases_with_clicks(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each purchase picks up the same user's
    clicks from the preceding ``horizon`` — the streaming twin of the
    batch as-of/interval join (operators/asof.py).

    Both sides carry event-time watermarks and the join condition bounds
    click_ts to a closed range ending at purchase_ts; together these let
    Spark expire buffered state on BOTH sides (a stream-stream join
    without the time bound would buffer forever). State is partitioned by
    user_id — the join shuffles each side once on the equi-key.

    ``how="left_outer"`` additionally emits click-less purchases with
    null click columns — but only once the watermark proves no matching
    click can still arrive (outer results are inherently delayed by the
    watermark; Spark would otherwise have to retract).
    """
    c = with_watermark(clicks, delay).select(
        F.col("user_id").alias("click_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = with_watermark(purchases, delay).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (p["user_id"] == c["click_user"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr(f"INTERVAL {horizon}"))
    )
    return p.join(c, cond, how).select(
        "user_id", "purchase_id", "purchase_ts", "purchase_value", "click_id", "click_ts"
    )
