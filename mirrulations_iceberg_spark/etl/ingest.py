"""Tolerant JSON:API ingestion (SURVEY §2.1 S1/S2/S4/S5, §2.3 F7).

The reference walks the docket tree file-by-file in Python and
try/excepts each ``json.load`` (``convert_to_iceberg.py:237-270``,
``:512-553``). Spark-first, the walk is ONE distributed scan:

* the recursive layout (``<docket>/raw-data/comments/*.json`` and
  variant layouts) is matched with a glob + ``recursiveFileLookup`` —
  reading parallelizes across executors, and listing is S2's split:
  parallel listing on a cluster; driver listing on ``local[N]``
  (``session.get_spark``), where listing tasks would run in the
  driver's JVM anyway;
* a fixed envelope schema means no inference pre-scan over 100 TB and
  stable column types on sparse attributes (absent keys → null — the
  reference's present-only columns diverge per docket; SURVEY §1.4);
* ``PERMISSIVE`` + ``_corrupt_record`` replaces the per-file
  try/except: bad files become quarantine ROWS, the scan never dies
  (F7). ``multiLine=true`` because each file is one pretty-printed
  JSON:API document, not JSONL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: One envelope schema for all three record kinds (docket / document /
#: comment). Unused fields are simply null — the flatteners select what
#: their table needs. ``_corrupt_record`` must be declared in-schema for
#: PERMISSIVE capture.
ENVELOPE_SCHEMA = """
    data STRUCT<
        id: STRING,
        type: STRING,
        links: STRUCT<self: STRING>,
        attributes: STRUCT<
            commentOn: STRING,
            docketId: STRING,
            agencyId: STRING,
            comment: STRING,
            firstName: STRING,
            lastName: STRING,
            organization: STRING,
            postedDate: STRING,
            withdrawn: BOOLEAN,
            reasonWithdrawn: STRING,
            documentType: STRING,
            title: STRING
        >,
        relationships: STRUCT<
            attachments: STRUCT<data: ARRAY<STRUCT<id: STRING>>>,
            comments: STRUCT<data: ARRAY<STRUCT<id: STRING>>>,
            documents: STRUCT<data: ARRAY<STRUCT<id: STRING>>>
        >
    >,
    included ARRAY<STRUCT<id: STRING, type: STRING>>,
    _corrupt_record STRING
"""


def read_docket_json(
    spark: SparkSession, root: str, kind: str | None = None
) -> DataFrame:
    """Scan a docket tree (or one record kind within it) tolerantly.

    ``kind`` ∈ {comments, documents, docket} narrows the glob to that
    subtree — partition-pruning at the *file listing* level, the cheap
    analogue of the reference's per-directory walks
    (``convert_to_iceberg.py:441,475,512``). ``kind=None`` reads every
    JSON file under the root (S5 glob read).

    The kind glob is expanded with Hadoop's ``FileSystem.globStatus``
    (any scheme, ``viewfs://`` and ``s3a://`` included) and the matches
    are read as a list. Handed the glob itself, Spark's batch reader
    first probes the literal path for a streaming sink's metadata log,
    which fails and logs a stack trace per read. A glob with no match
    is passed on unchanged, so the read fails with ``PATH_NOT_FOUND``.
    """
    paths = [root]
    if kind:
        glob = spark._jvm.org.apache.hadoop.fs.Path(f"{root}/*/raw-data/{kind}")
        fs = glob.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
        matches = fs.globStatus(glob) or []
        paths = sorted(m.getPath().toString() for m in matches) or [glob.toString()]
    return (
        spark.read.schema(ENVELOPE_SCHEMA)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .json(paths)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) — F7. Quarantined rows keep the raw text in
    ``_corrupt_record`` plus the source path for replay after an
    upstream fix. The projection must reference at least one real data
    column — Spark refuses corrupt-record-only queries
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)."""
    from pyspark.sql import functions as F

    clean = df.filter(df["_corrupt_record"].isNull()).drop("_corrupt_record")
    bad = (
        df.filter(df["_corrupt_record"].isNotNull())
        .select(
            F.col("data.id").alias("id"),
            F.input_file_name().alias("source_file"),
            F.col("_corrupt_record").alias("raw"),
        )
    )
    return clean, bad
