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
from functools import partial, reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import run_concurrently
from .flatten import flatten_comments, flatten_dockets, flatten_documents
from .ingest import read_docket_json, split_corrupt


#: Output table → (record-kind subtree, flattener).
_FLATTENERS = {
    "comments": ("comments", flatten_comments),
    "documents": ("documents", flatten_documents),
    "docket_info": ("docket", flatten_dockets),
}


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
    ``<out>/quarantine`` sink of corrupt raw rows (F7). ``agency``
    narrows every table to one agency (the reference's ``--agency``
    filter, ``convert_to_iceberg.py:1327-1329``) — applied post-flatten
    so it rides the same agencyId column the partitioned sink uses.

    The three record kinds share nothing, so each runs in its own
    thread (:func:`~mirrulations_iceberg_spark.session.run_concurrently`):
    read, flatten, write, re-read. Each table costs one Spark job, its
    write, and two observations ride that job: the rows the write lands
    (``counts``) and the corrupt rows of its raw scan. Once all three
    are written, one more job writes the corrupt rows of every kind
    that observed any, as one overwrite of their union, and
    ``quarantined`` is observed on that write, so it counts what
    landed. A clean run overwrites the quarantine with an empty frame,
    so a re-run into the same ``out_dir`` replaces the tables and the
    quarantine alike and ``quarantined`` counts only this run's rows.

    The returned tables are re-read from disk (callers query exactly
    what landed) with the schema the write declared, partition column
    last, so the re-read infers nothing: it starts no job.
    """

    def convert(table: str, kind: str, flatten) -> tuple[int, int, DataFrame, DataFrame]:
        raw = read_docket_json(spark, tree_root, kind)
        landed, corrupt = Observation(), Observation()
        # Counting `bad` on its own would column-prune back to a
        # corrupt-record-only scan, which Spark refuses
        # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); observed below the
        # corrupt filter, the count rides the table write's scan.
        clean, _ = split_corrupt(raw.observe(corrupt, _count("_corrupt_record")))
        _, bad = split_corrupt(raw)
        out = os.path.join(out_dir, table)
        df = flatten(clean)
        if agency is not None and "agencyId" in df.columns:
            df = df.filter(F.col("agencyId") == agency)
        partition = ["agencyId"] if "agencyId" in df.columns else []
        df.observe(landed, _count()).write.mode("overwrite").option(
            "compression", codec
        ).partitionBy(*partition).parquet(out)
        reread = spark.read.schema(_landed_schema(df.schema, partition)).parquet(out)
        return landed.get["n"], corrupt.get["n"], bad, reread

    landed, n_bad, bad, tables = zip(
        *run_concurrently(
            spark,
            *(
                partial(convert, table, kind, flatten)
                for table, (kind, flatten) in _FLATTENERS.items()
            ),
        )
    )
    corrupt = [df for n, df in zip(n_bad, bad) if n]
    quarantined = Observation()
    if corrupt:
        quarantine = reduce(DataFrame.unionAll, corrupt).observe(quarantined, _count())
    else:
        quarantine = spark.createDataFrame([], bad[0].schema)
    quarantine.write.mode("overwrite").option("compression", codec).parquet(
        os.path.join(out_dir, "quarantine")
    )
    return PipelineResult(
        tables=dict(zip(_FLATTENERS, tables)),
        counts=dict(zip(_FLATTENERS, landed)),
        quarantined=quarantined.get["n"] if corrupt else 0,
    )


def _count(col: str | None = None) -> Column:
    """The one metric an observation here collects: rows, or the
    non-null values of ``col``."""
    return F.count(F.lit(1) if col is None else F.col(col)).alias("n")


def _landed_schema(schema: StructType, partition: list[str]) -> StructType:
    """The written table as a reader sees it: data columns in write
    order, then the partition columns (where a schema-less read puts
    them), all nullable, as parquet reads always are."""
    fields = [f for f in schema if f.name not in partition]
    fields += [schema[p] for p in partition]
    return StructType([StructField(f.name, f.dataType, True) for f in fields])
