"""ETL round-trip: synthetic docket tree → flattened tables →
partitioned parquet, with tolerant-scan quarantine (SURVEY Phase 2)."""

from __future__ import annotations

import glob
import os

import pytest

from mirrulations_iceberg_spark.etl import (
    flatten_comments,
    read_docket_json,
    run_pipeline,
)
from mirrulations_iceberg_spark.etl.fixtures import write_docket_tree
from mirrulations_iceberg_spark.etl.ingest import split_corrupt

from .conftest import jobs_during


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("tree"))
    expected = write_docket_tree(root)
    return root, expected


@pytest.fixture(scope="module")
def result(spark, tree, tmp_path_factory):
    root, expected = tree
    out = str(tmp_path_factory.mktemp("out"))
    return run_pipeline(spark, root, out), expected, out


def test_round_trip_counts(result):
    res, expected, _ = result
    assert res.counts["comments"] == expected["comments"]
    assert res.counts["documents"] == expected["documents"]
    assert res.counts["docket_info"] == expected["dockets"]
    assert res.quarantined == expected["corrupt"]


def test_rerun_into_same_out_dir_counts_quarantine_once(spark, tree, tmp_path):
    """Tables overwrite on a re-run, so the quarantine must too: the
    second run's count is its own, not both runs' rows."""
    root, expected = tree
    out = str(tmp_path / "out")
    for _ in range(2):
        assert run_pipeline(spark, root, out).quarantined == expected["corrupt"]


def test_clean_rerun_replaces_stale_quarantine(spark, tmp_path):
    """A run with no corrupt rows writes no quarantine rows, yet must
    not leave the previous run's rows behind in the same ``out_dir``."""
    root, out = str(tmp_path / "tree"), str(tmp_path / "out")
    expected = write_docket_tree(root)
    assert run_pipeline(spark, root, out).quarantined == expected["corrupt"]
    corrupt = glob.glob(os.path.join(root, "**", "corrupt-*.json"), recursive=True)
    assert len(corrupt) == expected["corrupt"]
    for path in corrupt:
        os.remove(path)
    assert run_pipeline(spark, root, out).quarantined == 0
    assert spark.read.parquet(os.path.join(out, "quarantine")).count() == 0


def test_convert_runs_one_job_per_write(spark, tree, tmp_path):
    """Three table writes plus one quarantine write: the counts ride the
    writes as observations and the re-read declares its schema."""
    root, expected = tree
    out = str(tmp_path / "out")
    res, n_jobs = jobs_during(spark, lambda: run_pipeline(spark, root, out))
    assert n_jobs == 4
    assert res.quarantined == expected["corrupt"]
    for table, df in res.tables.items():
        assert df.dtypes == spark.read.parquet(os.path.join(out, table)).dtypes
        assert df.columns[-1] == "agencyId"


def test_quarantine_unions_corrupt_rows_of_every_kind(spark, tmp_path):
    """Corrupt files in two record kinds land in one quarantine write,
    beside the three table writes, and a clean re-run into the same
    ``out_dir`` still empties the quarantine."""
    root, out = str(tmp_path / "tree"), str(tmp_path / "out")
    expected = write_docket_tree(root)
    docs = sorted(glob.glob(os.path.join(root, "*", "raw-data", "documents")))[-1]
    for k in range(3):
        with open(os.path.join(docs, f"corrupt-{k}.json"), "w") as f:
            f.write('{"data": {"id": "broken", "attributes": {')
    res, n_jobs = jobs_during(spark, lambda: run_pipeline(spark, root, out))
    assert n_jobs == 4
    assert res.quarantined == expected["corrupt"] + 3
    assert res.counts["documents"] == expected["documents"]
    sources = {
        r.source_file
        for r in spark.read.parquet(os.path.join(out, "quarantine")).collect()
    }
    assert len(sources) == expected["corrupt"] + 3
    assert {s.rsplit("/", 2)[-2] for s in sources} == {"comments", "documents"}
    for path in glob.glob(os.path.join(root, "**", "corrupt-*.json"), recursive=True):
        os.remove(path)
    assert run_pipeline(spark, root, out).quarantined == 0
    assert spark.read.parquet(os.path.join(out, "quarantine")).count() == 0


def test_comments_schema(result):
    res, _, _ = result
    cols = dict(res.tables["comments"].dtypes)
    assert cols["postedDate"] == "timestamp"
    assert cols["withdrawn"] == "boolean"
    assert cols["attachment_count"] == "bigint"
    assert cols["has_attachments"] == "boolean"
    assert cols["comment_length"] == "int"


def test_sparse_attributes_are_null_not_missing(result):
    """Absent JSON keys must land as nulls in fixed columns
    (FIXTURES.md: 'Null attributes may be absent entirely')."""
    res, _, _ = result
    comments = res.tables["comments"]
    n = comments.count()
    n_org = comments.filter(comments.organization.isNotNull()).count()
    assert 0 < n_org < n  # sparse but present as a column


def test_agency_partitioned_layout(result):
    _, _, out = result
    parts = sorted(
        d for d in os.listdir(os.path.join(out, "comments")) if d.startswith("agencyId=")
    )
    assert parts == ["agencyId=CMS", "agencyId=DEA", "agencyId=EPA"]


def test_agency_extraction(result):
    res, _, _ = result
    rows = res.tables["comments"].select("agency", "agencyId").distinct().collect()
    assert all(r.agency == r.agencyId for r in rows)


def test_attachment_flags_consistent(result):
    res, _, _ = result
    bad = res.tables["comments"].filter(
        (res.tables["comments"].has_attachments)
        != (res.tables["comments"].attachment_count > 0)
    )
    assert bad.count() == 0


def test_partition_pruning_on_agency_filter(spark, result):
    """F5/F6: an agency filter over the partitioned comments table must
    prune at the partition level (PartitionFilters in the scan, only
    the CMS directory read) — the 100 TB reason for partitionBy."""
    _, expected, out = result
    comments = spark.read.parquet(os.path.join(out, "comments"))
    cms = comments.filter(comments.agencyId == "CMS")
    plan = cms._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(agencyId" in plan
    # CMS is the first, largest docket (COMMENT_COUNTS[0]).
    from mirrulations_iceberg_spark.etl.fixtures import COMMENT_COUNTS

    assert cms.count() == COMMENT_COUNTS[0]
    # F6 docket-pattern prune: the docketId prefix predicate pushes to
    # the scan as a data filter.
    pat = comments.filter(comments.docketId.startswith("CMS-"))
    pplan = pat._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(docketId), StringStartsWith(docketId,CMS-)" in pplan


def test_quarantine_keeps_raw_and_source(spark, tree):
    root, expected = tree
    raw = read_docket_json(spark, root, "comments")
    _clean, bad = raw, None
    clean, bad = split_corrupt(raw)
    rows = bad.collect()
    assert len(rows) == expected["corrupt"]
    assert all(r.raw.startswith('{"data"') for r in rows)
    assert all("corrupt-" in r.source_file for r in rows)


def test_kind_pruning(spark, tree):
    root, expected = tree
    docket_only = read_docket_json(spark, root, "docket")
    assert docket_only.count() == expected["dockets"]


def test_kind_glob_without_match_is_path_not_found(spark, tmp_path):
    """The kind glob is expanded before the read; a glob that matches
    nothing is read as given, so the scan still fails as a missing
    path instead of silently reading no files."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_docket_json(spark, str(tmp_path), "comments")


def test_normalize_event_ts_generation_agnostic(spark, tmp_path):
    """The events fixture has flipped between TIMESTAMP(NANOS) and
    plain-micros across driver testdata regenerations (r5). Pin that
    normalize_event_ts yields the SAME TimestampType values from both
    encodings — the nanos branch must not rot while current testdata
    happens to be micros."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mirrulations_iceberg_spark.tables import (
        ensure_events_read_conf,
        normalize_event_ts,
    )

    ts = [datetime.datetime(2025, 3, 1, 12, 0, i) for i in range(5)]
    outs = {}
    ensure_events_read_conf(spark)
    for name, unit in (("nanos", "ns"), ("micros", "us")):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(5), pa.int64()),
                    "ts": pa.array(ts, pa.timestamp(unit)),
                }
            ),
            path,
            version="2.6",
        )
        df = normalize_event_ts(spark.read.parquet(path))
        assert dict(df.dtypes)["ts"] == "timestamp", name
        outs[name] = [(r.event_id, r.ts) for r in df.orderBy("event_id").collect()]
    assert outs["nanos"] == outs["micros"]
    assert outs["micros"][0][1] == ts[0]
