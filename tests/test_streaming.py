"""Streaming: exactly-once incremental ingest + watermarked windows."""

from __future__ import annotations

import glob
import json
import os

import pytest

from mirrulations_iceberg_spark.etl.fixtures import write_docket_tree
from mirrulations_iceberg_spark.streaming import (
    stream_comments,
    windowed_event_counts,
)

from .conftest import SF_DIR, job_count


@pytest.fixture()
def tree(tmp_path):
    root = str(tmp_path / "tree")
    expected = write_docket_tree(root)
    return root, expected


def _append_comment(root: str, docket: str, comment_id: str) -> None:
    path = os.path.join(root, docket, "raw-data", "comments", f"{comment_id}.json")
    record = {
        "data": {
            "id": comment_id,
            "type": "comments",
            "links": {"self": f"https://example.invalid/comments/{comment_id}"},
            "attributes": {
                "docketId": docket,
                "agencyId": docket.split("-")[0],
                "comment": "late arrival",
                "postedDate": "2025-03-01T00:00:00Z",
                "withdrawn": False,
            },
        }
    }
    with open(path, "w") as f:
        json.dump(record, f)


def test_incremental_exactly_once(spark, tree, tmp_path):
    root, expected = tree
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = stream_comments(spark, root, out, ckpt)
    q.awaitTermination()
    landed = spark.read.parquet(out)
    assert landed.count() == expected["comments"]

    # Append one new file; a second AvailableNow run must pick up ONLY
    # the new file (checkpoint) and land exactly one new row.
    _append_comment(root, "CMS-2025-0000", "CMS-2025-0000-9999")
    q = stream_comments(spark, root, out, ckpt)
    q.awaitTermination()
    landed = spark.read.parquet(out)
    assert landed.count() == expected["comments"] + 1
    assert landed.select("id").distinct().count() == expected["comments"] + 1

    # A third run with nothing new is a no-op.
    q = stream_comments(spark, root, out, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(out).count() == expected["comments"] + 1


def test_second_stream_call_runs_four_jobs(spark, tree, tmp_path):
    """A restart lists its new files, and re-lists its last committed
    batch's, on the driver of a local session: a replica of 52 comment
    files (past Spark's 32-path parallel-listing threshold) adds no
    listing job to the drain's own jobs. With two listing jobs it ran 6."""
    root, expected = tree
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream_comments(spark, root, out, ckpt).awaitTermination()
    write_docket_tree(root, replica=1)
    n_files = len(glob.glob(os.path.join(root, "*", "raw-data", "comments", "*.json")))
    assert n_files == 2 * (expected["comments"] + expected["corrupt"])  # 2 × 52
    q = stream_comments(spark, root, out, ckpt)
    q.awaitTermination()
    assert job_count(spark, str(q.runId)) == 4
    assert spark.read.parquet(out).count() == 2 * expected["comments"]


def test_stream_quarantines_corrupt(spark, tree, tmp_path):
    """F7 in streaming form: the fixture tree's corrupt files must land
    in the quarantine table with their source path, not vanish."""
    root, expected = tree
    out = str(tmp_path / "out")

    q = stream_comments(spark, root, out, str(tmp_path / "ckpt"))
    q.awaitTermination()
    quarantined = spark.read.parquet(f"{out}_quarantine")
    # The fixture plants every corrupt file in the first docket's
    # comments subtree, which the comment stream reads.
    assert quarantined.count() == expected["corrupt"]
    assert quarantined.filter("source_file IS NULL OR raw IS NULL").count() == 0


def test_windowed_counts_match_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from mirrulations_iceberg_spark.tables import load_table

    stream_df = windowed_event_counts(spark, SF_DIR)
    q = (
        stream_df.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    events = load_table(spark, SF_DIR, "events")
    batch = (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert streamed == expected
