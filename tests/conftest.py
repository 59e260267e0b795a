from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mirrulations_iceberg_spark.session import get_spark
from mirrulations_iceberg_spark.tables import TABLE_NAMES

#: Tiny scale factor keeps the full-suite oracle sweep fast. This is
#: NOT sufficient as a pre-commit gate for operators with value-boundary
#: sensitivity: sf0.001 can contain zero boundary rows where the
#: driver's sf0.01 has several (m9's half-cent divergence: 0/493 rows
#: at sf0.001 vs 3/5,088 at sf0.01). Before any commit touching an
#: operator or its oracle, ALSO run the driver replica at the driver's
#: scale: ``python scripts/drivercheck.py`` (defaults to sf0.01).
SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def job_count(spark, group: str) -> int:
    """Spark jobs started so far under job group ``group``."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def jobs_during(spark, fn):
    """(fn's result, number of Spark jobs fn started on this thread)."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, job_count(spark, group)


def write_docs(spark, tmp_path, rows) -> str:
    """Write ``rows`` — (doc_id, text, lang, source), n_chars derived —
    as a one-file ``documents.parquet`` and return its scale-factor dir."""
    df = spark.createDataFrame(
        [(i, t, lg, s, None if t is None else len(t)) for i, t, lg, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    return sf


def documents_oracle_mismatch(sf: str, name: str, df) -> str | None:
    """``compare()`` of query ``name``'s result ``df`` against its DuckDB
    oracle run over the ``documents.parquet`` that :func:`write_docs`
    wrote under ``sf``: None when they agree."""
    from mirrulations_iceberg_spark.operators import collect_queries
    from mirrulations_iceberg_spark.testing import compare

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    res = con.execute(collect_queries()[1][name])
    return compare(
        df.columns,
        [tuple(r) for r in df.collect()],
        [d[0] for d in res.description],
        res.fetchall(),
    )


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="pytest", shuffle_partitions=8)


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture()
def mount(spark, tmp_path):
    """Mount tmp_path as viewfs://<unique-authority>/data and return
    the viewfs URI root: a non-``file`` scheme that goes through Hadoop's
    full FileSystem dispatch. A fresh authority per test dodges Hadoop's
    FileSystem cache (keyed on scheme+authority), so the mount-table
    conf set here is always the one the new FS instance reads."""
    auth = f"mock{uuid.uuid4().hex[:8]}"
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set(f"fs.viewfs.mounttable.{auth}.link./data", f"file://{tmp_path}")
    return f"viewfs://{auth}/data"
