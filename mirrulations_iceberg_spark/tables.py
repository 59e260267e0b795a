"""Loading and registering the synthetic star-schema test tables.

Mirrors the reference's in-memory table registration
(``simple_iceberg_exploration.py:314-318`` — ``con.register('comments',
df)``) with ``createOrReplaceTempView``; at production scale these are
Iceberg/Parquet tables and the reader below is the only place that
changes.

A parquet read without a schema makes Spark run a one-task job that
reads a footer to infer it. :func:`parquet_schema` is the package's one
way to learn a parquet schema: it memoizes the inferred ``StructType``
per path, keyed on a stamp of the files under the path (name, size,
``mtime_ns``) and on the session confs that change how a footer maps to
Spark types (:data:`SCHEMA_CONFS`). Rewriting, adding or removing a
file, or flipping one of those confs, is a new key. Only schemas are
memoized, never DataFrames: every read still builds a fresh relation,
so two loads of one table keep distinct attribute ids. URI-schemed paths
(``s3a://``, ``viewfs://`` …), which ``os`` cannot stamp, are inferred
on every call.
"""

from __future__ import annotations

import copy
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Session confs read by Spark's parquet footer-to-schema conversion:
#: the same file infers a different schema under a different setting.
SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)
#: Schemas kept by :func:`parquet_schema`; the least recently used goes.
SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_lock = threading.Lock()


def local_path(path: str) -> str | None:
    """``path`` as a local-filesystem path, or ``None`` for a URI-schemed
    path (``s3a://…``, ``hdfs://…``, ``viewfs://…``) that ``os`` cannot
    see. ``file://`` URIs are local."""
    if path.startswith("file://"):
        return path[len("file://"):]
    return None if "://" in path else path


def _file_stamp(local: str) -> tuple | None:
    """Sorted (relative name, size, ``mtime_ns``) of every file under
    ``local`` (a file or a directory). ``None`` when there is nothing to
    stamp (missing or unreadable path, no files), so the caller lets
    Spark infer and raise its own error."""
    try:
        if not os.path.isdir(local):
            st = os.stat(local)
            return (("", st.st_size, st.st_mtime_ns),)
        stamp = []
        for d, _, fs in os.walk(local):
            for f in fs:
                p = os.path.join(d, f)
                st = os.stat(p)
                stamp.append((os.path.relpath(p, local), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(stamp)) or None


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The ``StructType`` ``spark.read.parquet(path)`` infers, memoized.

    The memo key is the absolute path, the stamp of every file under it
    and the current values of :data:`SCHEMA_CONFS`, so a rewritten file
    or a flipped conf infers afresh. Paths ``os`` cannot stamp (URIs,
    globs, missing paths) infer on every call. The caller gets its own
    copy: ``StructType.add`` mutates in place.
    """
    local = local_path(path)
    stamp = _file_stamp(local) if local is not None else None
    if stamp is None:
        return spark.read.parquet(path).schema
    key = (
        os.path.abspath(local),
        stamp,
        tuple(spark.conf.get(k) for k in SCHEMA_CONFS),
    )
    with _schema_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _schema_lock:
            _schema_memo[key] = schema
            if len(_schema_memo) > SCHEMA_MEMO_SIZE:
                _schema_memo.popitem(last=False)
    return copy.deepcopy(schema)


def ensure_events_read_conf(spark: SparkSession) -> None:
    """Session confs required to read ``events.parquet`` across fixture
    generations — NOTE: mutates two session-wide confs (ADVICE r5: the
    name now says "events read conf", not "nanos", because the TZ pin
    below is not nanos-specific).

    * ``nanosAsLong``: early testdata generations wrote events.ts as
      TIMESTAMP(NANOS), which a session without this conf fails to read
      (footer-schema conversion, PARQUET_TYPE_ILLEGAL). Current
      generations write plain micros, where the conf is a no-op — kept
      (runtime-settable, harmless) so the readers survive either
      generation.
    * ``session.timeZone = UTC``: pins the NTZ→LTZ cast in
      ``normalize_event_ts`` and epoch rendering host-TZ-independent.
      This changes timestamp/cast semantics for the WHOLE session, not
      just events reads, and is deliberately NOT restored afterwards
      (ADVICE r6): the DataFrame we return is lazy — the conf is read
      at *execution* time, so a restore-after-read contextmanager would
      silently undo the pin before the caller's action runs. Sessions
      built by :func:`session.get_spark` already set UTC at creation
      (``_SCALE_SAFE_CONF``), making this a no-op there; a caller
      handing us a foreign session they also use for non-UTC timestamp
      work must re-set the conf after their events actions complete.

    Every reader that touches the file — batch or streaming schema
    inference — calls this first rather than relying on session.py
    defaults: callers may hand us any SparkSession (the round driver
    builds a plain one) and each query must be self-sufficient even
    when it runs first in the session."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session timezone so the NTZ→LTZ cast in
    # normalize_event_ts and epoch rendering are host-TZ-independent
    # (identity on this UTC container; determinism elsewhere).
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Bring ``events.ts`` to plain TimestampType regardless of how the
    fixture generation encoded it:

    * ``bigint`` — TIMESTAMP(NANOS) surfaced as epoch-nanos by
      ``nanosAsLong``: integer-divide to micros (DIV, not ``/`` — no
      precision detour through double) and reinterpret as a UTC epoch.
    * ``timestamp_ntz`` — plain micros with ``isAdjustedToUTC=false``:
      cast to TimestampType (identity under the UTC session timezone
      every entry point pins) so downstream window/watermark/epoch
      arithmetic sees one type across generations.
    * ``timestamp`` — already the target type.

    Works on batch and streaming DataFrames alike (pure projection).
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table.

    The read declares the table's schema from :func:`parquet_schema`,
    so only the first load of a file version (per conf setting) pays
    Spark's schema-inference job; a rewritten file or a flipped
    :data:`SCHEMA_CONFS` conf infers again. The DataFrame itself is
    built fresh on every call, so loading one table twice and joining
    it to itself works. The scan stays declarative: Catalyst pushes
    filters / prunes columns into the vectorized Parquet reader, so
    callers never pre-materialize.
    """
    path, schema = _table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The streaming twin of :func:`load_table`: one table as a
    file-source stream with the same schema, events conf and ``ts``
    normalization, so stream and batch arithmetic agree. The file
    source wants a DIRECTORY: a table written as a single file is
    streamed from ``sf_dir`` with a ``pathGlobFilter`` on its file name,
    and a table written as a multi-file directory (a replicated corpus)
    is streamed from that directory. Returns an unstarted streaming
    DataFrame."""
    path, schema = _table_schema(spark, sf_dir, name)
    reader = spark.readStream.schema(schema)
    local = local_path(path)
    if local is not None and os.path.isdir(local):
        df = reader.parquet(path)
    else:
        df = reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)
    return normalize_event_ts(df) if name == "events" else df


def _table_schema(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[str, StructType]:
    """(path, schema) of one synthetic table, after setting the events
    read conf when ``name`` is ``events``."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        ensure_events_read_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return path, parquet_schema(spark, path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
