"""Watermarked stream-stream join: purchase→click attribution.

The batch twin is ``operators.joins.j6_asof_join``; streaming cannot
express "latest prior click" exactly (that needs unbounded lookback),
so the streaming form is the standard bounded-window attribution join:
every (purchase, click) pair for the same user with the click at most
``max_gap`` before the purchase.

State-boundedness is the whole design: both sides carry a watermark and
the join condition carries a time range, so Spark derives a state
eviction bound for each side — a click older than
``watermark + max_gap`` can never match a future purchase and its state
row is dropped. Without BOTH the watermarks and the range predicate the
state store grows without bound; this module is the template for any
stream-stream join this engine runs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def attributed_purchases(
    spark: SparkSession,
    sf_dir: str,
    max_gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream self-join over the events fixture.

    Returns an unstarted streaming DataFrame of
    (purchase_id, user_id, purchase_ts, click_id, click_ts, gap_us):
    one row per qualifying click within ``max_gap`` before the
    purchase (inner join — unattributed purchases drop out).
    """
    from ..tables import stream_table

    events = stream_table(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"""
            user_id = c_user
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {max_gap}
            """
        ),
        "inner",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
