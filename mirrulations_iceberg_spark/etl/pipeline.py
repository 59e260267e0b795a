"""End-to-end conversion pipeline (SURVEY Phase 2; the Spark
re-expression of ``convert_to_iceberg.py:956-1121``'s sequential
docket loop).

The reference processes one docket at a time to bound memory; Spark
bounds memory per task instead, so the pipeline is three declarative
scans (comments / documents / docket subtrees — file-listing pruned)
flattened and written as agency-partitioned parquet. At 100 TB nothing
changes but the paths: the scan lists S3 in parallel, the write is an
Iceberg/Hive-layout partitioned sink, and per-agency partitioning gives
F5-style partition pruning to every downstream query.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .flatten import flatten_comments, flatten_dockets, flatten_documents
from .ingest import read_docket_json, split_corrupt


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    counts: dict[str, int]
    quarantined: int


def run_pipeline(
    spark: SparkSession,
    tree_root: str,
    out_dir: str,
    codec: str = "zstd",
    agency: str | None = None,
) -> PipelineResult:
    """Docket tree → {comments, documents, docket_info} parquet tables.

    Writes ``<out>/<table>/agencyId=<a>/*.parquet`` + a
    ``<out>/quarantine`` sink of corrupt raw rows (F7); a re-run into
    the same ``out_dir`` replaces both, so ``quarantined`` counts only
    this run's rows. Returns the written tables re-read from disk (so
    callers query exactly what landed) plus row counts. ``agency``
    narrows every table to one agency (the reference's ``--agency``
    filter, ``convert_to_iceberg.py:1327-1329``) — applied post-flatten
    so it rides the same agencyId column the partitioned sink uses.
    """
    from pyspark.sql import functions as F
    flatteners = {
        "comments": ("comments", flatten_comments),
        "documents": ("documents", flatten_documents),
        "docket_info": ("docket", flatten_dockets),
    }
    tables: dict[str, DataFrame] = {}
    counts: dict[str, int] = {}
    quarantine = os.path.join(out_dir, "quarantine")
    for table, (kind, flatten) in flatteners.items():
        raw = read_docket_json(spark, tree_root, kind)
        clean, bad = split_corrupt(raw)
        out = os.path.join(out_dir, table)
        df = flatten(clean)
        if agency is not None and "agencyId" in df.columns:
            df = df.filter(F.col("agencyId") == agency)
        partition = ["agencyId"] if "agencyId" in df.columns else None
        (
            df.write.mode("overwrite")
            .option("compression", codec)
            .partitionBy(*partition)
            .parquet(out)
            if partition
            else df.write.mode("overwrite").option("compression", codec).parquet(out)
        )
        # Counting `bad` directly would column-prune back to a
        # corrupt-record-only scan, which Spark refuses
        # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); the write's projection
        # keeps real columns, so land the quarantine rows first and
        # count what landed. Like the tables, the quarantine of a run
        # replaces the previous run's: the first table overwrites it.
        bad.write.mode("append" if tables else "overwrite").option(
            "compression", codec
        ).parquet(quarantine)
        tables[table] = spark.read.parquet(out)
        counts[table] = tables[table].count()
    quarantined = spark.read.parquet(quarantine).count()
    return PipelineResult(tables=tables, counts=counts, quarantined=quarantined)
