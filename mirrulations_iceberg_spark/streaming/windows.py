"""Watermarked event-time aggregation over the events stream.

The batch twin is ``a10_date_histogram`` / ``w5_sessionize``; here the
same tumbling-window aggregate runs as a stream with a watermark
bounding state: windows older than the watermark are finalized and
dropped from the state store, so state size is O(active windows), not
O(history) — the property that lets this run forever at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming tumbling-window counts over the events fixture.

    The stream is ``tables.stream_table``'s, which normalizes ``ts``
    like ``tables.load_table`` (nanos-as-long or plain micros,
    generation-dependent) so batch and stream agree. Returns an
    unstarted streaming DataFrame; callers pick sink + trigger.
    """
    from ..tables import stream_table

    events = stream_table(spark, sf_dir, "events")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
