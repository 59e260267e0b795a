"""Scoped-execution helpers: session-conf scoping and the cache
lifecycle of operators that persist an intermediate.

A query function that ``cache()``/``persist()``-es an intermediate must
not leak the cached blocks past its own return: a long-lived session
composing many operators would otherwise accumulate orphaned executor
storage (bench's per-query ``clearCache()`` hides the leak there, a
shared session does not). For operators whose *result* is
dimension-bounded — top-k rows, per-language summaries, decile tables,
never corpus-sized — the fix is free: materialize the bounded result,
release the caches, and hand back a driver-local DataFrame with the
identical schema. The collect is the same one the caller was about to
do anyway.

Operators whose output scales with the corpus (pair enumerations d3/x4)
keep their caches attached to the returned lazy plan instead: there the
cache serves multiple *references inside one action*, and releasing it
before the caller's action would re-run the lineage per reference.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: Serializes scoped_conf entries. RLock, not Lock: a helper that
#: composes two scoped runners re-enters on the same thread, and the
#: LIFO exits then restore correctly (inner restores the outer's
#: value, outer restores the caller's original).
_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set the session conf ``settings`` for the duration of the block
    and restore the previous values on exit, error included. Conf is
    read at plan time, so the block must contain the action.

    Session conf is global, so a query planned concurrently in the same
    session would inherit the scoped values and nested use would
    restore stale ones: one module lock serializes every entry, and
    concurrent scoped actions queue instead of clobbering each other.
    The lock is per-thread, so code that runs on another thread while
    a caller holds it (a streaming query's ``foreachBatch`` function,
    a worker-pool task the holder waits on) must not enter here.
    """
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k) for k in settings}
        for k, v in settings.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


def materialize_release(
    spark: SparkSession, result: DataFrame, *cached: DataFrame
) -> DataFrame:
    """Collect a dimension-bounded ``result``, unpersist every
    DataFrame in ``cached``, and return the rows as a driver-local
    DataFrame carrying ``result``'s exact schema."""
    rows = result.collect()
    for df in cached:
        df.unpersist(blocking=False)
    return spark.createDataFrame(rows, result.schema)


def spark_round_decimal(x: float, places: int):
    """The exact Decimal Spark's ``round(double, n)`` lands on:
    ``BigDecimal.valueOf`` (shortest-decimal ``Double.toString``) then
    ``setScale(n, HALF_UP)``. Python's ``repr`` is the same
    shortest-roundtrip decimal, so quantizing it HALF_UP matches
    bit-for-bit. (Builtin ``round`` is banker's rounding on the binary
    value — NOT equivalent.) Shared by the x10 driver-side greedy and
    the workload oracle literals so the parity trick has one home.
    """
    import decimal

    return decimal.Decimal(repr(x)).quantize(
        decimal.Decimal(1).scaleb(-places), rounding=decimal.ROUND_HALF_UP
    )
