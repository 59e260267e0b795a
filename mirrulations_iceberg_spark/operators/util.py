"""Scoped-execution helpers: actions that need their own session conf,
and the cache lifecycle of operators that persist an intermediate.

An action that needs different conf from its caller (the Lloyd-fit
collect, a stream's state partition count) runs in a clone of the
caller's session: :func:`scoped_session` copies the caller's runtime
conf, temp views and functions and applies the settings to the clone
only, and :func:`bind` moves an analyzed plan between the two. The
caller's conf is never written, so a query another thread plans in the
caller's session meanwhile keeps the caller's settings, and there is
nothing to restore. The clone shares the SparkContext and the cache
manager, so a frame the caller cached is read from the same blocks.

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

from pyspark.sql import DataFrame, SparkSession


def scoped_session(spark: SparkSession, settings: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` with the conf ``settings`` applied to the
    clone alone. Conf is read at plan time, so the action that needs
    ``settings`` must be planned in the clone: :func:`bind` the frame
    to it, or start the stream from it."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for k, v in settings.items():
        clone.conf.set(k, v)
    return clone


def bind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a DataFrame of ``spark``, which plans
    and runs it under its own conf."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)


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
