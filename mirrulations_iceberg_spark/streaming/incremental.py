"""Incremental, exactly-once comment ingestion.

Replaces the reference's resume loop (``convert_to_iceberg.py:956-1121``
walks dockets sequentially, tracking done-ness in a progress file) with
Structured Streaming's own machinery:

* the **file source** discovers new comment JSON files per trigger and
  records them in the checkpoint — the progress file, done right;
* ``foreachBatch`` + an id anti-join against the landed table, for
  two things Spark's parquet sink does not do (that sink is
  transactional: it commits each batch through its ``_spark_metadata``
  log): each batch has a second output, the quarantine of corrupt
  records; and a comment id must land once across batches and runs,
  which the anti-join enforces, so a batch replayed after a crash
  (``foreachBatch`` is at-least-once) duplicates no row — at
  production scale the anti-join is replaced by an Iceberg/Delta
  ``MERGE INTO``, same plan shape;
* ``Trigger.AvailableNow`` drains everything currently on disk and
  stops — the batch-backfill mode; a long-lived trigger interval turns
  the same code into the live tailer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..etl.flatten import flatten_comments
from ..etl.ingest import ENVELOPE_SCHEMA
from ..session import run_concurrently


def stream_comments(
    spark: SparkSession,
    tree_root: str,
    out_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """Drain all pending comment files into ``out_dir`` exactly once.

    Corrupt records (F7 in streaming form) are routed to
    ``quarantine_dir`` (default ``<out_dir>_quarantine``) with their
    source path and raw text, same contract as the batch
    ``etl.ingest.split_corrupt`` — the stream never drops input
    silently, and a fixed upstream file replays from quarantine.

    Returns the started query (already triggered AvailableNow); callers
    ``awaitTermination()``.
    """
    quarantine_dir = quarantine_dir or f"{out_dir}_quarantine"
    raw = (
        spark.readStream.schema(ENVELOPE_SCHEMA)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .json(f"{tree_root}/*/raw-data/comments")
        .withColumn("_src", F.input_file_name())
    )

    def upsert(batch_df, _batch_id: int) -> None:
        bad = batch_df.filter(batch_df["_corrupt_record"].isNotNull()).select(
            F.col("data.id").alias("id"),
            F.col("_src").alias("source_file"),
            F.col("_corrupt_record").alias("raw"),
        )

        def land() -> None:
            new = flatten_comments(
                batch_df.filter(batch_df["_corrupt_record"].isNull())
            ).dropDuplicates(["id"])
            if os.path.isdir(out_dir) and any(
                f.endswith(".parquet")
                for _r, _d, fs in os.walk(out_dir)
                for f in fs
            ):
                # The package wrote this table, so its id column is known:
                # declaring it skips schema inference and reads only ids.
                existing = batch_df.sparkSession.read.schema("id STRING").parquet(out_dir)
                new = new.join(existing, "id", "left_anti")
            new.write.mode("append").parquet(out_dir)

        # The two writes share nothing, so they run at once. If either
        # fails, the batch fails and the checkpoint replays it: the id
        # anti-join keeps the main table exactly-once whichever write
        # landed, and quarantine rows may duplicate on replay, which is
        # the right failure mode for a triage table.
        run_concurrently(
            batch_df.sparkSession,
            lambda: bad.write.mode("append").parquet(quarantine_dir),
            land,
        )

    return (
        raw.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
