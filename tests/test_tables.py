"""The parquet schema memo behind ``tables.load_table``.

The Spark tests each write their own tiny parquet file with pyarrow, so
each starts from a path the memo has never seen. The memo's LRU bound
and locking are tested against a stand-in session, with no JVM.
"""

from __future__ import annotations

import sys
import threading
from collections import OrderedDict
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType, StructField, StructType

from mirrulations_iceberg_spark import tables
from mirrulations_iceberg_spark.tables import load_table, parquet_schema, stream_table

from .conftest import jobs_during

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_second_load_starts_no_job(spark, tmp_path):
    _write(tmp_path / "region.parquet", r_key=[1, 2], r_name=["a", "b"])
    first, n_first = jobs_during(spark, lambda: load_table(spark, str(tmp_path), "region"))
    again, n_again = jobs_during(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n_first >= 1  # the inference job the memo saves
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(map(tuple, again.collect())) == [(1, "a"), (2, "b")]


def test_rewritten_file_shows_its_new_schema(spark, tmp_path):
    _write(tmp_path / "nation.parquet", n_key=[1])
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_key"]
    _write(tmp_path / "nation.parquet", n_key=[7], n_name=["x"])
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_key", "n_name"]
    assert [tuple(r) for r in df.collect()] == [(7, "x")]


def test_nanos_as_long_flip_is_its_own_entry(spark, tmp_path):
    """TIMESTAMP(NANOS) infers as bigint only under nanosAsLong; without
    it Spark refuses the footer. A memo keyed on the path alone would
    hand the bigint schema to the second read."""
    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_000_000_001], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        assert parquet_schema(spark, path)["ts"].dataType == LongType()
        spark.conf.set(NANOS, "false")
        with pytest.raises(AnalysisException):
            parquet_schema(spark, path)
        spark.conf.set(NANOS, "true")
        schema, n_jobs = jobs_during(spark, lambda: parquet_schema(spark, path))
        assert schema["ts"].dataType == LongType() and n_jobs == 0
    finally:
        spark.conf.set(NANOS, before)


def test_uri_path_reads_through_the_fallback(spark, mount, tmp_path):
    _write(tmp_path / "part.parquet", p_key=[3, 4])
    n_memo = len(tables._schema_memo)
    for _ in range(2):
        df = load_table(spark, mount, "part")
        assert sorted(r.p_key for r in df.collect()) == [3, 4]
    assert len(tables._schema_memo) == n_memo  # never memoized


def test_two_loads_self_join_on_distinct_attributes(spark, tmp_path):
    """A memo of DataFrames would hand both loads one relation, so
    ``a.k == b.v`` would compare one row's own columns (no row has
    k == v) instead of pairing rows across the two sides."""
    _write(tmp_path / "orders.parquet", k=[1, 2, 3], v=[2, 3, 1])
    a = load_table(spark, str(tmp_path), "orders")
    b = load_table(spark, str(tmp_path), "orders")
    rows = a.join(b, a.k == b.v).select(a.k, b.k.alias("bk")).collect()
    assert sorted(map(tuple, rows)) == [(1, 3), (2, 1), (3, 2)]


class _FakeSpark:
    """Just what ``parquet_schema`` touches: confs, and a read whose
    schema names the file it read. Counts the inferences."""

    def __init__(self):
        self.conf = SimpleNamespace(get=lambda key: "false")
        self.read = SimpleNamespace(parquet=self._infer)
        self.inferred = 0

    def _infer(self, path):
        self.inferred += 1
        name = path.rsplit("/", 1)[-1]
        return SimpleNamespace(schema=StructType([StructField(name, LongType())]))


def _files(tmp_path, n):
    paths = [tmp_path / f"t{i}.parquet" for i in range(n)]
    for i, p in enumerate(paths):
        p.write_bytes(b"x" * (i + 1))
    return [str(p) for p in paths]


def test_stream_table_streams_a_file_or_a_directory_table(spark, tmp_path):
    """``stream_table`` streams the rows ``load_table`` reads, for a
    table written as one file beside another table's file (the name
    filter keeps only its own) and for one written as a multi-file
    directory (a replicated corpus)."""
    flat = tmp_path / "flat"
    flat.mkdir()
    _write(flat / "region.parquet", r_key=[1, 2], r_name=["a", "b"])
    _write(flat / "nation.parquet", n_key=[9], n_name=["z"])
    nested = tmp_path / "nested" / "region.parquet"
    nested.mkdir(parents=True)
    _write(nested / "part-0.parquet", r_key=[1], r_name=["a"])
    _write(nested / "part-1.parquet", r_key=[2], r_name=["b"])
    for i, sf in enumerate((flat, nested.parent)):
        query = (
            stream_table(spark, str(sf), "region")
            .writeStream.format("memory")
            .queryName(f"stream_table_{i}")
            .trigger(availableNow=True)
            .start()
        )
        assert query.awaitTermination(120)
        streamed = sorted(map(tuple, spark.table(query.name).collect()))
        loaded = sorted(map(tuple, load_table(spark, str(sf), "region").collect()))
        assert streamed == loaded == [(1, "a"), (2, "b")]


def test_memo_evicts_least_recently_used(tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_schema_memo", OrderedDict())
    monkeypatch.setattr(tables, "SCHEMA_MEMO_SIZE", 2)
    spark = _FakeSpark()
    a, b, c = _files(tmp_path, 3)
    for p in (a, b, a, c):  # touching a makes b the oldest; c evicts b
        parquet_schema(spark, p)
    assert spark.inferred == 3
    parquet_schema(spark, a)
    assert spark.inferred == 3
    parquet_schema(spark, b)
    assert spark.inferred == 4
    assert len(tables._schema_memo) == 2


def test_memo_under_concurrent_callers(tmp_path, monkeypatch):
    """More threads than cores hit and evict one small memo at a short
    switch interval; every call must still get its own file's schema and
    the memo must stay within its bound."""
    monkeypatch.setattr(tables, "_schema_memo", OrderedDict())
    monkeypatch.setattr(tables, "SCHEMA_MEMO_SIZE", 3)
    spark = _FakeSpark()
    paths = _files(tmp_path, 6)
    wrong: list[str] = []
    errors: list[Exception] = []

    def work(k):
        try:
            for i in range(300):
                p = paths[(k + i) % len(paths)]
                if parquet_schema(spark, p).names != [p.rsplit("/", 1)[-1]]:
                    wrong.append(p)
        except Exception as exc:  # a lost update surfaces here
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(k,)) for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors and not wrong
    assert len(tables._schema_memo) <= 3
