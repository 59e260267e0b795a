"""S2/S9 exercised through a NON-file filesystem scheme (round 9).

The repo has always claimed its readers/writers are URI-transparent —
the same code path serves ``file://`` here and ``s3a://`` in
production (``etl/ingest.py``, ``operators/maintenance.py``) — but the
container ships no S3 endpoint, so those SURVEY §2.1 rows sat
"untested (env)". Hadoop's ``viewfs://`` (the client-side mount-table
filesystem it ships in-core) closes the testable half: a mount over a
local directory gives a genuinely non-``file`` scheme that goes
through the full Hadoop FileSystem dispatch — scheme resolution, FS
instantiation, the committer's rename protocol, ``recursiveFileLookup``
listing — everything the s3a path shares short of S3's own semantics
(credentials, multipart upload, eventual listing). What these tests
pin is exactly the URI-transparency claim, honestly scoped: the same
reader/writer/preflight calls, byte-identical results, no ``file:``
assumptions anywhere in the chain.
"""

from __future__ import annotations

from mirrulations_iceberg_spark.etl.fixtures import write_docket_tree
from mirrulations_iceberg_spark.etl.ingest import read_docket_json
from mirrulations_iceberg_spark.etl.preflight import fs_preflight


def test_s9_parquet_write_read_roundtrip_nonfile_scheme(spark, mount):
    df = spark.range(100).selectExpr(
        "id", "id * 3 AS v", "CAST(id % 7 AS STRING) AS k"
    )
    df.write.mode("overwrite").parquet(f"{mount}/t1")
    back = spark.read.parquet(f"{mount}/t1")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_s2_json_tree_scan_nonfile_scheme(spark, mount, tmp_path):
    """The docket-tree reader (S2's 'same reader takes s3a://' claim)
    over a viewfs root: recursive listing + glob + PERMISSIVE parse
    all through the non-file FS, counts equal the local-path read."""
    expected = write_docket_tree(str(tmp_path))
    via_viewfs = read_docket_json(spark, mount, kind="comments")
    via_file = read_docket_json(spark, str(tmp_path), kind="comments")
    n_viewfs = via_viewfs.count()
    assert n_viewfs == via_file.count()
    # corrupt rows included in the raw scan; clean count pins parity
    assert n_viewfs >= expected["comments"]


def test_preflight_green_on_nonfile_scheme(spark, mount, tmp_path):
    """fs_preflight through viewfs must probe clean AND surface the
    object-store committer advisory (scheme != file), the branch no
    file:// test can reach."""
    (tmp_path / "x.json").write_text("{}")
    checks = {c.name: c for c in fs_preflight(spark, mount, mount)}
    assert checks["input_exists"].ok
    assert checks["input_listable"].ok
    assert checks["output_writable"].ok
    adv = checks["object_store_committer"]
    assert adv.advisory and not adv.ok  # no factory configured here
