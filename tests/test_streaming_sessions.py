"""Stateful streaming sessionization vs the batch w5 ground truth.

The stream is fed in two chronological chunks so the watermark advances
between batches and event-time timeouts close quiet users' sessions.
Emitted sessions must be a subset of (and agree exactly with) the batch
sessionization; tail sessions still open at end-of-stream legitimately
remain unemitted.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mirrulations_iceberg_spark.streaming.sessions import sessionize_stream
from mirrulations_iceberg_spark.tables import (
    load_table,
    normalize_event_ts,
    parquet_schema,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def split_events_dir(spark, tmp_path_factory):
    """The events fixture split into two chronological parquet files."""
    out = str(tmp_path_factory.mktemp("events_split"))
    events = load_table(spark, SF_DIR, "events")
    med_ts = events.select(
        F.expr("percentile_approx(cast(ts as long), 0.5)").alias("m")
    ).collect()[0].m
    first = events.filter(F.col("ts").cast("long") <= med_ts)
    second = events.filter(F.col("ts").cast("long") > med_ts)
    first.coalesce(1).write.parquet(out, mode="append")
    second.coalesce(1).write.parquet(out, mode="append")
    return out


def _batch_sessions(spark, events):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


def test_stateful_sessionize_matches_batch(spark, split_events_dir, tmp_path):
    stream = normalize_event_ts(
        spark.readStream.schema(parquet_schema(spark, split_events_dir))
        .option("maxFilesPerTrigger", "1")
        .parquet(split_events_dir)
    )
    sessions = sessionize_stream(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("SELECT * FROM stream_sessions").collect()
    assert emitted, "two-batch feed must close at least some sessions"

    batch = _batch_sessions(
        spark, spark.read.parquet(split_events_dir)
    ).collect()
    batch_set: dict[tuple, int] = {}
    for r in batch:
        key = (r.user_id, r.n_events, r.session_value)
        batch_set[key] = batch_set.get(key, 0) + 1
    for r in emitted:
        key = (r.user_id, r.n_events, round(r.session_value, 4))
        assert batch_set.get(key, 0) > 0, f"streamed session {key} not in batch"
        batch_set[key] -= 1
