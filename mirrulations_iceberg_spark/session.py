"""SparkSession construction with scale-appropriate defaults.

The reference runs a single Python process and bounds memory by handling
one docket at a time (``convert_to_iceberg.py:956-1121``). Here the unit
of parallelism is the Spark task; these defaults are what we would ship
to a real cluster, sized down only where local[,N] testing requires.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

import mirrulations_iceberg_spark

#: The directory the package is imported from.
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(mirrulations_iceberg_spark.__file__))
)

#: Configs that are correct at any scale (cluster or local test).
_SCALE_SAFE_CONF = {
    # AQE re-plans at runtime: coalesces tiny shuffle partitions, converts
    # sort-merge joins to broadcast when the built side turns out small,
    # and splits skewed partitions (docket skew: 981 vs 25,725 comments
    # per docket in the reference corpus — CONVERSION_READY.md:37-41).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (similarity / multimodal UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Don't silently truncate decimal-ish aggregations.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # Spark 4 refuses Parquet TIMESTAMP(NANOS) outright; read it as a
    # raw long instead and let load_table() convert with exact integer
    # arithmetic (tables.py). Spark timestamps are microsecond-precision,
    # so nanos must be truncated explicitly either way.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate synthesizes `size(x)>0 AND isnotnull(x)`
    # above every explode; predicate pushdown then substitutes the
    # generator's producing expression into that filter and pushes it
    # below exchanges to the scan. For cheap array columns that's a win;
    # for our text operators — where the exploded column is an expensive
    # derived expression (tokenize → shingle) — it re-evaluates the whole
    # pipeline a second time at the scan, serialized before the
    # parallelizing exchange (measured 17s → 1s on the d2 postings stage
    # at sf0.1). Every Generate in this package already sits directly on
    # a projection, so the inferred filter saves nothing.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


#: Production-cluster deltas — what changes (and what deliberately does
#: not) when this engine runs on a 1000-executor cluster against 100 TB
#: instead of local[32] against fixtures. Pass to get_spark(extra_conf=
#: CLUSTER_CONF) on a real deployment; values are starting points.
CLUSTER_CONF = {
    # High initial shuffle parallelism; AQE coalesces down per-stage.
    "spark.sql.shuffle.partitions": "4000",
    # Scan split size: 128 MB default is right for HDFS/S3 columnar
    # scans; raise for very wide tables to cut task-scheduling overhead.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Keep the broadcast threshold modest; AQE upgrades joins at runtime
    # when the built side turns out small, which is safer than a large
    # static threshold OOMing the driver.
    "spark.sql.autoBroadcastJoinThreshold": "33554432",
    # Shuffle/storage stability at scale.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "67108864",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def get_spark(
    app_name: str = "mirrulations-iceberg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and ``bench.py`` share one code path; on a real
    cluster the caller passes ``master=None`` with a cluster deploy and the
    builder inherits spark-submit's config.

    ``shuffle_partitions`` defaults to the local core count for tests; on a
    cluster leave it unset and rely on AQE's
    ``spark.sql.adaptive.coalescePartitions`` with a high initial value.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _SCALE_SAFE_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # local[N] puts driver + all executor threads in ONE JVM: size the
    # heap for the whole workload (83-query bench sessions GC-thrashed
    # at 8g — multi-second pauses on the tail queries; the container has
    # 128 GiB). On a cluster this is overridden by spark-submit.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    )
    if master.startswith("local"):
        # Past the threshold (32 paths) Spark lists files with a Spark
        # job, one task per path. A file stream re-lists its last
        # committed batch's files on every restart, so each
        # stream_comments call over a 52-file docket paid two 52-task
        # listing jobs. On local[N] those tasks run in the driver's JVM
        # anyway, so listing them inline does the same I/O without the
        # jobs. A cluster keeps the parallel listing that S3-scale trees
        # need, and extra_conf still overrides this value.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647"
        )
    # Python workers (mapInPandas, applyInPandasWithState) import the
    # package by name; a process that found it only through sys.path
    # would otherwise start workers that cannot.
    builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_concurrently(spark: SparkSession, *actions: Callable[[], Any]) -> list[Any]:
    """Run independent Spark actions at once; their results in order.

    Each action is a thunk on its own thread of a pool sized to the
    actions, so one action's planning, commit and the driver's wait
    between its jobs overlap another's running tasks. Every thunk is
    wrapped in ``inheritable_thread_target(spark)`` on the calling
    thread, so its jobs carry the caller's job group, local properties
    and tags: a job-group count or profile of the caller sees them.
    Every action runs to its end before the first failing one's error
    (in argument order) is raised, so no thread is left writing behind
    the caller's back.
    """
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a)) for a in actions]
    return [f.result() for f in futures]
