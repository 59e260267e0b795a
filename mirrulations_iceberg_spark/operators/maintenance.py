"""Table-maintenance suite (SURVEY §2.12, M1–M6) — the reference's
specialty, re-expressed Spark-first.

Reference parity:

* M1 codec benchmark          — ``simple_iceberg_exploration.py:148-168``
* M2 storage-efficiency report — ``exploration_summary.md:11-28``
* M3 delta-append simulation  — ``simple_iceberg_exploration.py:188-247``
* M4 compaction               — ``simple_iceberg_exploration.py:249-304``
* M6 data-profiling report    — ``simple_iceberg_exploration.py:344-378``

(M5, the latency harness, is ``bench.py`` at the repo root.)

Writes go to a per-call temp dir under ``/tmp`` and are removed
best-effort. At production scale the same code targets a table
location; the *plans* are what matter — every write is a distributed
``df.write.parquet``, every report is a single pass, and the profile
(m6) is ONE aggregate over the table, not a query per column
(the reference loops a DuckDB query per column; at 100 TB that is
N full scans vs this module's 1).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

#: Codecs shipped with Spark's default build. zstd stands in for the
#: reference's best-ratio codec brotli (simple_iceberg_exploration.py:
#: 148-168; 19.37x avg per exploration_summary.md:21-28) — Spark ships
#: no brotli parquet codec without an extra jar, and zstd is the
#: closest ratio/speed point in the default build, so m1's zstd row is
#: the one to compare against BASELINE.md's brotli row.
CODECS = ("snappy", "gzip", "zstd", "lz4")


def _tmpdir() -> str:
    return tempfile.mkdtemp(prefix="miis_maint_")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _n_files(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def write_parquet(
    df: DataFrame,
    path: str,
    codec: str = "snappy",
    partition_by: list[str] | None = None,
    n_files: int | None = None,
) -> None:
    """Parquet writer with codec + layout control (S8–S10 parity:
    ``convert_to_iceberg.py:671-768``). ``n_files`` repartitions before
    the write — the distributed equivalent of the reference's chunked
    writer; ``partition_by`` gives the hive-partitioned sink."""
    if n_files is not None:
        df = df.repartition(n_files)
    writer = df.write.mode("overwrite").option("compression", codec)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def m1_codec_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1, engine-invariant half (VERDICT r13 item #6): write the
    orders table under each codec and report what any correct writer
    must produce — the requested file count and a lossless readback
    (row count + orderkey checksum). These ARE checkable facts: the
    oracle recomputes counts/checksum from the source table and states
    the file-count invariant (the m16 units_clustered=1 idiom), so m1
    carries a real hash-checked row instead of the rows-only pass it
    had through r13. Every writer-dependent observation — byte sizes
    AND the did-it-compress flag — lives in :func:`m1b_codec_sizes`
    (rows-only by nature): snappy/lz4 on small or already-compact
    encodings can legitimately emit >= the uncompressed write
    (page/footer overhead), so "compresses" is an environment fact,
    not an engine invariant (ADVICE r14)."""
    orders = load_table(spark, sf_dir, "orders")
    base = _tmpdir()
    try:
        rows = []
        for codec in CODECS:
            path = os.path.join(base, codec)
            write_parquet(orders, path, codec=codec, n_files=M1_FILES)
            n_files = _n_files(path)
            rb = (
                spark.read.parquet(path)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("o_orderkey").alias("ck"),
                )
                .collect()[0]
            )
            rows.append((codec, n_files, int(rb["n"]), int(rb["ck"])))
        return spark.createDataFrame(
            sorted(rows),
            "codec string, n_files long, n_rows long, id_checksum long",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def m1b_codec_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1, writer-dependent half: byte size, ratio vs the uncompressed
    write, and the did-it-compress flag per codec — the numbers a
    capacity plan reads. Sizes (and, on small inputs, even the sign of
    the ratio) vary with writer version/row-group layout → rows-only
    check by design (the invariant half is
    :func:`m1_codec_benchmark`; ADVICE r14 moved ``compresses`` here)."""
    orders = load_table(spark, sf_dir, "orders")
    base = _tmpdir()
    try:
        sizes: dict[str, int] = {}
        for codec in CODECS:
            path = os.path.join(base, codec)
            write_parquet(orders, path, codec=codec, n_files=M1_FILES)
            sizes[codec] = _dir_bytes(path)
        raw_path = os.path.join(base, "none")
        write_parquet(orders, raw_path, codec="none", n_files=M1_FILES)
        raw = _dir_bytes(raw_path)
        rows = [
            (
                codec,
                sizes[codec],
                round(raw / sizes[codec], 4),
                sizes[codec] < raw,
            )
            for codec in CODECS
        ]
        return spark.createDataFrame(
            rows,
            "codec string, bytes long, ratio_vs_uncompressed double,"
            " compresses boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: Columns of the orders fixture — the m2 oracle is generated from
#: this list; a fixture schema change fails loudly at generation.
M2_ORDERS_COLUMNS = (
    "o_custkey",
    "o_orderdate",
    "o_orderkey",
    "o_orderpriority",
    "o_orderstatus",
    "o_totalprice",
)
M1_FILES = 4


def m2_storage_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2, engine-invariant half (VERDICT r13 item #6): audit the
    parquet FOOTER of the orders fixture against the data it
    describes — per column, the footer's declared row count and the
    row-group statistics' summed null count. The oracle recomputes
    both FROM THE DATA (``COUNT(*)``, ``COUNT(*) - COUNT(col)``), so
    a footer that lies about either diverges — a real check of the
    metadata path every zone-map/pruning argument in this repo leans
    on, where through r13 m2 carried only a rows-only pass. The
    writer-dependent byte sizes move to :func:`m2b_column_sizes`.
    Footer-only on the Spark side in the normal path; null_count is
    OPTIONAL per the parquet spec, so a column whose footer omits it
    (any row group) falls back to a data-scan recount — an honestly
    written footer then still matches the oracle, and only a footer
    that LIES about a recorded count diverges (ADVICE r14: treating
    absent-as-0 made a legitimate stat-less writer a false positive)."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "orders.parquet")
    meta = pq.ParquetFile(path).metadata
    nulls: dict[str, int] = {}
    missing: set[str] = set()
    for rg in range(meta.num_row_groups):
        for ci in range(meta.num_columns):
            col = meta.row_group(rg).column(ci)
            name = col.path_in_schema
            nulls.setdefault(name, 0)
            # stats may exist without a null_count (pyarrow -> None)
            nc = col.statistics.null_count if col.is_stats_set else None
            if nc is None:
                missing.add(name)
            else:
                nulls[name] += nc
    if missing:
        recount = (
            spark.read.parquet(path)
            .agg(
                *[
                    (F.count(F.lit(1)) - F.count(F.col(c))).alias(c)
                    for c in sorted(missing)
                ]
            )
            .collect()[0]
        )
        for c in missing:  # replace wholesale: partial sums are wrong
            nulls[c] = int(recount[c])
    rows = [
        (name, meta.num_rows, nc) for name, nc in sorted(nulls.items())
    ]
    return spark.createDataFrame(
        rows, "column string, n_rows long, null_count long"
    )


def m2b_column_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2, writer-dependent half: per-column compressed/uncompressed
    bytes from the parquet footer — the report the reference derives
    in ``exploration_summary.md:11-28``. Footer-only: no data scan.
    Byte counts are writer-dependent → rows-only check by design (the
    invariant half is :func:`m2_storage_efficiency`)."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(os.path.join(sf_dir, "orders.parquet")).metadata
    agg: dict[str, list[int]] = {}
    for rg in range(meta.num_row_groups):
        for ci in range(meta.num_columns):
            col = meta.row_group(rg).column(ci)
            cur = agg.setdefault(col.path_in_schema, [0, 0])
            cur[0] += col.total_compressed_size
            cur[1] += col.total_uncompressed_size
    rows = [
        (name, comp, uncomp, round(uncomp / comp, 4))
        for name, (comp, uncomp) in sorted(agg.items())
    ]
    return spark.createDataFrame(
        rows,
        "column string, compressed_bytes long, uncompressed_bytes long, ratio double",
    )


def m3_delta_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: base + N small delta files, then one union read — the
    reference's incremental-append pattern (base file + per-run delta
    parquet, ``simple_iceberg_exploration.py:188-247``). The split is
    deterministic (orderkey mod 50) so the per-part row counts are
    oracle-checkable; the union read is a multi-path parquet scan, which
    at scale is exactly an Iceberg/Hive table with appended files.

    Dual-mode: when the runtime ships iceberg-spark-runtime
    (``operators/iceberg.py`` probe), base+deltas go through the REAL
    ``writeTo().create()/.append()`` commit path and the union read is
    the table's current snapshot; otherwise the parquet stand-in.
    Identical output rows either way — one oracle covers both modes."""
    from .iceberg import ensure_catalog, iceberg_available

    orders = load_table(spark, sf_dir, "orders")
    base = _tmpdir()
    try:
        parts: list[tuple[str, DataFrame]] = [
            ("base", orders.filter(F.col("o_orderkey") % 50 < 45))
        ]
        for i in range(5):
            parts.append(
                (f"delta_{i}", orders.filter(F.col("o_orderkey") % 50 == 45 + i))
            )
        if iceberg_available(spark):
            cat = ensure_catalog(spark, base)
            table = f"{cat}.db.m3_append"
            for i, (_name, df) in enumerate(parts):
                if i == 0:
                    df.writeTo(table).using("iceberg").createOrReplace()
                else:
                    df.writeTo(table).append()
            union = spark.table(table)
        else:
            paths = []
            for name, df in parts:
                path = os.path.join(base, name)
                write_parquet(df, path, n_files=1)
                paths.append(path)
            union = spark.read.parquet(*paths)
        total = union.count()
        rows = [(name, df.count()) for name, df in parts]
        rows.append(("union_read", total))
        return spark.createDataFrame(rows, "part string, n_rows long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def m4_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: many-small-files → few-big-files rewrite, the reference's
    chunk/compact demo (20→3 files, ``simple_iceberg_exploration.py:
    249-304``). Row counts must be preserved — oracle-checked."""
    orders = load_table(spark, sf_dir, "orders")
    base = _tmpdir()
    try:
        frag = os.path.join(base, "fragmented")
        write_parquet(orders, frag, n_files=20)
        compacted = os.path.join(base, "compacted")
        write_parquet(spark.read.parquet(frag), compacted, n_files=3)
        rows = [
            ("fragmented", _n_files(frag), spark.read.parquet(frag).count()),
            ("compacted", _n_files(compacted), spark.read.parquet(compacted).count()),
        ]
        return spark.createDataFrame(rows, "stage string, n_files long, n_rows long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: Columns of the orders fixture, profiled by m6.
_ORDERS_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column profile (nulls, distinct, min, max) of ANY table in
    ONE pass: every statistic is an expression in a single aggregate
    (one scan, map-side partial agg), then the 1×4N row is unpivoted
    with ``stack`` into the (column, stat...) report shape.

    The reference profiles with one DuckDB query per column
    (``simple_iceberg_exploration.py:344-378``) — N scans; at 100 TB
    that is N full reads vs this one. Exact countDistinct is kept for
    oracle parity; swap approx_count_distinct at petabyte scale."""
    columns = columns or df.columns
    aggs = []
    for c in columns:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__nulls`, `{c}__distinct`, `{c}__min`, `{c}__max`"
        for c in columns
    )
    return wide.selectExpr(
        f"stack({len(columns)}, {stack_args}) AS "
        "(column, n_nulls, n_distinct, min_val, max_val)"
    )


def m6_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: the single-pass profiler over the orders fixture.

    The exact countDistincts plan an Expand (one duplicated row per
    distinct-agg group), so input parallelism multiplies: round the
    single-row-group fixture scan up first (2.4× here; no-op on a
    production multi-row-group layout)."""
    from .dedup import parallelize_scan

    return profile_table(
        parallelize_scan(load_table(spark, sf_dir, "orders").select(*_ORDERS_COLS)),
        list(_ORDERS_COLS),
    )


def m9_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite on plain parquet — the
    overwrite-by-filter maintenance Iceberg's `overwritePartitions`
    gives (S12/S13 family; no Iceberg jar in this container): write
    orders hive-partitioned by status, rewrite JUST the 'P' partition
    with corrected prices (`partitionOverwriteMode=dynamic` on the
    writer — only partitions present in the incoming data are
    replaced), re-read, and report per-status totals. The oracle
    confirms the 'P' rows carry the correction while 'O'/'F' partitions
    are byte-for-byte the original data.

    The x1.1 correction is computed in exact integer-cents space
    (`(cents * 11 + 5) DIV 10`) on BOTH engines: ROUND(double, 2)
    after a double multiply lands on half-cent boundaries where
    Spark (HALF_UP on the decimal repr) and DuckDB (binary-scaled)
    disagree — 3 of 5,088 'P' rows at sf0.01. All-integer until the
    final /100.0 projection, per the module decimal convention
    (operators/__init__.py).

    Dual-mode: with iceberg-spark-runtime on the classpath
    (``operators/iceberg.py`` probe) the rewrite is the REAL
    ``writeTo().overwritePartitions()`` against a status-partitioned
    Iceberg table; otherwise the parquet dynamic-overwrite stand-in.
    Identical output rows either way.
    """
    from .iceberg import ensure_catalog, iceberg_available

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = _tmpdir()
    try:
        use_iceberg = iceberg_available(spark)
        if use_iceberg:
            cat = ensure_catalog(spark, base)
            table = f"{cat}.db.m9_overwrite"
            (
                orders.writeTo(table)
                .using("iceberg")
                .partitionedBy(F.col("o_orderstatus"))
                .createOrReplace()
            )
        else:
            path = os.path.join(base, "t")
            orders.repartition(4).write.partitionBy("o_orderstatus").parquet(
                path
            )
        fixed = orders.filter(F.col("o_orderstatus") == "P").withColumn(
            "o_totalprice",
            F.expr(
                "CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) * 11 + 5)"
                " DIV 10 AS DOUBLE) / 100"
            ),
        )
        if use_iceberg:
            fixed.writeTo(table).overwritePartitions()
            reread = spark.table(table)
        else:
            (
                fixed.repartition(2)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("o_orderstatus")
                .parquet(path)
            )
            reread = spark.read.parquet(path)
        out = (
            reread
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
        )
        rows = [tuple(r) for r in out.collect()]
        return spark.createDataFrame(
            rows, "o_orderstatus string, n_rows long, total double"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def m10_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight: before shuffling 100 TB on a key,
    measure how skewed it is. One aggregation pass per key column
    builds the per-key frequency table; the report gives row count,
    distinct keys, the heaviest key's share, and the skew ratio
    (max/avg rows per key) — the number that decides between a plain
    shuffle join, AQE skew splitting, and explicit salting
    (``operators/joins.py:salted_join``). Runs here over the two fact
    join keys the workload actually shuffles on."""
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def report(df: DataFrame, table: str, key: str) -> DataFrame:
        freq = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        return freq.agg(
            F.lit(table).alias("table"),
            F.lit(key).alias("key"),
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_key_rows"),
            F.round(F.max("c") / F.avg("c"), 4).alias("skew_ratio"),
        )
    return report(li, "lineitem", "l_orderkey").unionByName(
        report(ev, "events", "user_id")
    )


_M7_STATUS_DOMAIN = ("F", "O", "P")
_M7_RULES = (
    "null_orderkey",
    "dup_orderkey",
    "status_out_of_domain",
    "nonpositive_price",
    "price_above_400k",
    "date_before_1995",
)


def m7_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 reframed for the engine: the reference's pre-flight checks S3
    credentials before an 8–20 h conversion run; the Spark-world
    pre-flight validates the DATA CONTRACT the run assumes — key
    integrity, value domains, ranges — so a violation surfaces before
    hour one, not in a failed job at hour nine. (The credential half
    stays ⛔: no cloud creds in this container.)

    ONE aggregate pass computes every rule (map-side partials; the
    uniqueness rule's countDistinct is the only Expand — swap
    approx_count_distinct at petabyte scale), unpivoted with ``stack``
    into a (rule, n_violations) report. The deliberately tight price
    rule has real violations, so the oracle confirms exact counting,
    not just zeros.
    """
    orders = load_table(spark, sf_dir, "orders")

    def viol(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    agg = orders.agg(
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("null_orderkey"),
        (F.count("o_orderkey") - F.countDistinct("o_orderkey")).alias(
            "dup_orderkey"
        ),
        viol(
            ~F.col("o_orderstatus").isin(*_M7_STATUS_DOMAIN),
            "status_out_of_domain",
        ),
        viol(F.col("o_totalprice") <= 0, "nonpositive_price"),
        viol(F.col("o_totalprice") > 400_000, "price_above_400k"),
        viol(
            F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"),
            "date_before_1995",
        ),
    )
    stack_args = ", ".join(f"'{r}', `{r}`" for r in _M7_RULES)
    return agg.selectExpr(
        f"stack({len(_M7_RULES)}, {stack_args}) AS (rule, n_violations)"
    )


def s13_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a plain-parquet table (the Iceberg behavior
    S12/S13 would give; no Iceberg jar in this container): write a base
    file, append a file with an added column, read with mergeSchema —
    old rows surface the new column as null, nothing is rewritten.
    Deterministic splits → oracle-checked."""
    orders = load_table(spark, sf_dir, "orders")
    base = _tmpdir()
    try:
        old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_totalprice") > 100_000).alias("is_large"),
        )
        write_parquet(old, os.path.join(base, "t"), n_files=1)
        new.coalesce(1).write.mode("append").parquet(os.path.join(base, "t"))
        merged = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(base, "t")
        )
        # Materialize before the temp dir is removed (the returned
        # DataFrame must not depend on the scratch files).
        row = merged.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("is_large").alias("n_with_new_col"),
            F.sum(F.col("is_large").cast("long")).alias("n_large"),
        ).collect()[0]
        return spark.createDataFrame(
            [(row.n_rows, row.n_with_new_col, row.n_large)],
            "n_rows long, n_with_new_col long, n_large long",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def m11_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11/S12 behavioral half: Iceberg snapshot semantics — append
    commits, time travel, and rollback reads — on plain parquet via
    manifest files (the mechanism Iceberg itself uses: a snapshot is a
    manifest listing its file set; readers resolve the manifest, never
    `ls`). No Iceberg jar ships in this container (SURVEY §6), so the
    table format is stood in for while the BEHAVIOR is exercised for
    real (reference ``iceberg_exploration.py:65-186``):

    * commit 1 writes base files + ``manifest-1.json``;
    * commit 2 appends delta files and writes ``manifest-2.json`` =
      manifest-1's files ∪ the new ones — append never rewrites data;
    * reading "as of" snapshot N loads manifest-N from disk and scans
      exactly those paths — the time-travel / rollback read: snapshot 1
      read AFTER commit 2 must not see commit 2's rows.

    Deterministic splits (doc_id mod 3) make every snapshot's count and
    id-checksum oracle-checkable. At 100 TB the manifest is metadata of
    bounded size (file list, not row data) — driver-side manifest IO is
    the design, not a shortcut.
    """
    import json as _json

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = _tmpdir()
    try:
        commits = [
            ("1", docs.filter(F.col("doc_id") % 3 == 0)),
            ("2", docs.filter(F.col("doc_id") % 3 == 1)),
        ]
        prev_files: list[str] = []
        manifests: dict[str, list[str]] = {}
        for snap, df in commits:
            data_dir = os.path.join(base, f"commit-{snap}")
            write_parquet(df, data_dir, n_files=2)
            files = sorted(
                os.path.join(data_dir, f)
                for f in os.listdir(data_dir)
                if f.endswith(".parquet")
            )
            prev_files = prev_files + files
            manifests[snap] = prev_files
            with open(os.path.join(base, f"manifest-{snap}.json"), "w") as fh:
                _json.dump({"snapshot": snap, "files": prev_files}, fh)
        rows = []
        # Read back THROUGH the manifests (freshly loaded from disk),
        # latest first, then the rollback read of snapshot 1.
        for snap in ("2", "1"):
            with open(os.path.join(base, f"manifest-{snap}.json")) as fh:
                paths = _json.load(fh)["files"]
            r = spark.read.parquet(*paths).agg(
                F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("ck")
            ).collect()[0]
            rows.append((int(snap), int(r["n"]), int(r["ck"])))
        return spark.createDataFrame(
            rows, "snapshot int, n_rows long, id_checksum long"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def m12_vacuum_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-extension: orphan-file cleanup — Iceberg's
    ``remove_orphan_files`` / Delta ``VACUUM`` behavior on the m11
    manifest mechanism (reference's snapshot model,
    ``iceberg_exploration.py:65-186``). A failed or rolled-back write
    leaves data files on disk that no manifest references; at 100 TB
    those orphans are real money and a correctness trap (a naive
    directory-listing reader would resurrect them — exactly why
    manifest-resolved reads exist).

    Fixture: two committed writes (doc_id%3 ∈ {{0,1}}, 2 files each)
    tracked by a manifest, plus one UNCOMMITTED write (doc_id%3 == 2,
    2 files) simulating a failed job — on disk, in no manifest.
    Vacuum = on-disk file set MINUS live manifest set → delete; then
    the post-vacuum manifest read proves the live data survived
    intact. File ops are driver-side metadata work by design (the m11
    stance: manifests list files, not rows). Every output value is
    pinned by the deterministic splits, so the whole lifecycle —
    orphan identification, deletion, read-after-delete — is
    oracle-checked.
    """
    import json as _json

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = _tmpdir()
    try:
        live_files: list[str] = []
        for snap, df in (
            ("1", docs.filter(F.col("doc_id") % 3 == 0)),
            ("2", docs.filter(F.col("doc_id") % 3 == 1)),
        ):
            data_dir = os.path.join(base, f"commit-{snap}")
            write_parquet(df, data_dir, n_files=2)
            live_files += sorted(
                os.path.join(data_dir, f)
                for f in os.listdir(data_dir)
                if f.endswith(".parquet")
            )
        with open(os.path.join(base, "manifest-live.json"), "w") as fh:
            _json.dump({"files": live_files}, fh)
        # the failed write: files land, no manifest records them
        write_parquet(
            docs.filter(F.col("doc_id") % 3 == 2),
            os.path.join(base, "commit-failed"),
            n_files=2,
        )
        on_disk = sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(base)
            for f in files
            if f.endswith(".parquet")
        )
        with open(os.path.join(base, "manifest-live.json")) as fh:
            live = set(_json.load(fh)["files"])
        orphans = [p for p in on_disk if p not in live]
        orow = spark.read.parquet(*orphans).agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("ck")
        ).collect()[0]
        for p in orphans:
            os.remove(p)
        lrow = spark.read.parquet(*sorted(live)).agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("ck")
        ).collect()[0]
        return spark.createDataFrame(
            [
                (
                    len(live),
                    len(orphans),
                    int(orow["n"]),
                    int(orow["ck"]),
                    int(lrow["n"]),
                    int(lrow["ck"]),
                )
            ],
            "n_live_files int, n_orphan_files int, orphan_rows long, "
            "orphan_checksum long, post_vacuum_rows long, "
            "post_vacuum_checksum long",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def m13_preflight_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7's credential/filesystem half as an oracle-checked driver row
    (VERDICT r8 item #9): the reference probes read/list/write
    permissions and terminates early with a clear report
    (``convert_to_iceberg.py:1197-1242``, ``PERMISSION_HANDLING.md:
    9-33``). This query runs :func:`fs_preflight` — the same Hadoop
    ``FileSystem`` chain a job would use — against a deterministic
    fixture tree built at query time, across the three regimes the
    contract distinguishes: a readable tree, a missing input, and an
    unresolvable filesystem scheme (no connector — the S3-without-jar
    case).

    Environment-specific detail strings (absolute temp paths, Hadoop
    exception text) are redacted out of the output; what remains —
    (scenario, check, ok, advisory, blocks_run) — is the early-exit
    contract itself, with ``blocks_run = NOT ok AND NOT advisory``
    exactly the gate the convert CLI applies. The oracle is the
    expected contract as a VALUES constant (a known-answer check, like
    m12's file-count constants).
    """
    import os
    import shutil
    import tempfile

    from ..etl.preflight import fs_preflight

    base = tempfile.mkdtemp(prefix="miis_m13_")
    try:
        data = os.path.join(base, "in")
        os.makedirs(data)
        for i in range(2):
            with open(os.path.join(data, f"part{i}.json"), "w") as fh:
                fh.write("{}")
        out = os.path.join(base, "out")
        os.makedirs(out)
        # viewfs:// mount over the fixture dir: a genuinely non-file
        # scheme through the full Hadoop FS dispatch, reaching the
        # object-store committer advisory branch no file:// run can
        # (tests/test_viewfs_scheme.py carries the S2/S9 half).
        import uuid

        auth = f"m13{uuid.uuid4().hex[:8]}"
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        mount_key = f"fs.viewfs.mounttable.{auth}.link./data"
        hconf.set(mount_key, f"file://{data}")
        scenarios = [
            ("ok_tree", data, out),
            ("missing_input", os.path.join(base, "nope"), out),
            ("bad_scheme", "nosuchscheme://bucket/prefix", out),
            ("viewfs_tree", f"viewfs://{auth}/data", f"viewfs://{auth}/data"),
        ]
        rows = []
        for name, dp, op in scenarios:
            for c in fs_preflight(spark, dp, op):
                rows.append(
                    (name, c.name, c.ok, c.advisory, not c.ok and not c.advisory)
                )
        return spark.createDataFrame(
            rows,
            "scenario string, check string, ok boolean, advisory boolean, "
            "blocks_run boolean",
        )
    finally:
        # Session-global state must not accumulate across invocations
        # (m13 sits in the driver window, so it runs every round in a
        # shared session): drop the mount-table key and evict the
        # cached ViewFileSystem instance it created.
        try:
            hconf.unset(mount_key)
            jvm = spark._jvm
            jvm.org.apache.hadoop.fs.FileSystem.get(
                jvm.java.net.URI(f"viewfs://{auth}/"), hconf
            ).close()
        except Exception:
            pass
        shutil.rmtree(base, ignore_errors=True)



#: m14 bin widths: token-count bins of 32, quality-bp bins of 500.
M14_TOK_W = 32
M14_Q_W = 500


def m14_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor — the check a pipeline runs on every
    arriving batch BEFORE admitting it: does the delta's distribution
    (token lengths, quality scores, language mix) still look like the
    base corpus, or did the upstream crawler/extractor change under
    us? Split convention is d10/e9's (``doc_id % mod == 0`` is the
    arriving delta), so this composes with the e9 flagship as its
    monitoring stage.

    Per (feature, bin): base and delta shares in basis points, the
    per-bin share gap, and the feature-level total-variation distance
    (TVD = Σ|p−q| DIV 2 — the drift number a monitor thresholds on).
    ALL-INTEGER basis-point arithmetic: unlike PSI/KL (whose ``ln``
    has no cross-engine-exact form) TVD is exact on both engines, and
    it is the metric's bounded [0,10000] twin.

    Scale shape: one corpus scan projecting three small features, one
    explode (×3 — constant fanout), one hash-agg on (feature, bin) —
    a key space bounded by the DOMAIN (fixed-width bins, |langs|), not
    the data. Every share/TVD step after that is window math over the
    bounded histogram. At 100 TB the post-agg frame is still ~dozens
    of rows.
    """
    from pyspark.sql import Window

    from .dedup import D10_DELTA_MOD, parallelize_scan
    from .text import tokens_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    from .text import alpha_ratio_bp_col
    feats = (
        docs.withColumn(
            "__ntok",
            # NULL text -> NULL token array under ANSI; coalesce so the
            # bin label never goes NULL (Spark NULLS FIRST vs DuckDB
            # NULLS LAST would break the shared ORDER BY)
            F.coalesce(F.size(tokens_col(F.col("text"))).cast("long"), F.lit(0)),
        )
        .withColumn("__qbp", alpha_ratio_bp_col())
        .select(
            (F.col("doc_id") % D10_DELTA_MOD == 0).alias("is_delta"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("tokens").alias("feature"),
                        # fixed-width numeric label: lexicographic order
                        # == numeric order on both engines
                        F.expr(
                            f"lpad(CAST(__ntok DIV {M14_TOK_W} AS STRING),"
                            " 6, '0')"
                        ).alias("bin"),
                    ),
                    F.struct(
                        F.lit("quality").alias("feature"),
                        F.expr(
                            f"lpad(CAST(__qbp DIV {M14_Q_W} AS STRING),"
                            " 6, '0')"
                        ).alias("bin"),
                    ),
                    F.struct(
                        F.lit("lang").alias("feature"),
                        F.coalesce(F.col("lang"), F.lit("(null)")).alias(
                            "bin"
                        ),
                    ),
                )
            ).alias("fb"),
        )
        .select("is_delta", "fb.feature", "fb.bin")
    )
    counts = feats.groupBy("feature", "bin").agg(
        F.sum((~F.col("is_delta")).cast("long")).alias("n_base"),
        F.sum(F.col("is_delta").cast("long")).alias("n_delta"),
    )
    wf = Window.partitionBy("feature")
    return (
        counts.withColumn("t_base", F.sum("n_base").over(wf))
        .withColumn("t_delta", F.sum("n_delta").over(wf))
        .withColumn(
            "base_bp", F.expr("(10000 * n_base) DIV greatest(t_base, 1)")
        )
        .withColumn(
            "delta_bp", F.expr("(10000 * n_delta) DIV greatest(t_delta, 1)")
        )
        .withColumn("gap_bp", F.expr("abs(base_bp - delta_bp)"))
        .withColumn(
            "feature_tvd_bp",
            F.floor(F.sum("gap_bp").over(wf) / 2).cast("long"),
        )
        .select(
            "feature",
            "bin",
            "n_base",
            "n_delta",
            "base_bp",
            "delta_bp",
            "gap_bp",
            "feature_tvd_bp",
        )
        .orderBy("feature", "bin")
    )


#: CDC change-log construction moduli (the d10/e9 delta convention:
#: derived deterministically from the corpus so both engines build the
#: identical log). Keys divisible by 21 get updates AND a delete — the
#: delete's higher seq must win.
M15_UPD_MOD = 3
M15_DEL_MOD = 7
M15_INS_MOD = 5


def m15_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC merge — the ``MERGE INTO`` semantics of an
    Iceberg/Delta upsert sink (the row-granularity counterpart of m9's
    partition overwrite): apply a change log of inserts / updates /
    deletes to a base snapshot with LAST-WRITER-WINS per key, ordered
    by the change sequence number. The log is derived deterministically
    from the corpus (doc_id % {3,7,5} → two updates, a delete, an
    insert under a fresh negative key; keys divisible by 21 exercise
    update-then-delete precedence), so both engines construct the
    identical log and the whole apply is hash-checked.

    Output: per-lang rollup of the POST-MERGE state — live rows, total
    chars, and how many arrived by insert / survived an update / were
    deleted. All-integer.

    Scale shape: latest-change-per-key is one row_number over the
    change log keyed by (key) — the log shuffles ONCE on the merge
    key; the apply is a single full-outer join base⋈latest on that
    same key (co-partitioned with the log shuffle, the sort-merge
    MERGE plan Iceberg's copy-on-write executes); the rollup is a
    bounded |langs| hash-agg. No step is quadratic in corpus or log.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    changes = cdc_changes(docs)
    w = Window.partitionBy("key").orderBy(F.desc("seq"), F.asc("op"))
    latest = (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "op", "new_text", F.col("lang").alias("chg_lang"))
    )
    return cdc_apply_rollup(docs, latest)


def cdc_changes(docs: DataFrame) -> DataFrame:
    """m15's deterministic CDC log over a (doc_id, text, lang) frame:
    (key, seq, op, new_text, lang) — two updates, a delete, an insert
    under a fresh negative key, keyed by the m15 moduli."""
    upd1 = docs.filter(F.col("doc_id") % M15_UPD_MOD == 0).select(
        F.col("doc_id").alias("key"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.concat(F.col("text"), F.lit(" v2")).alias("new_text"),
        "lang",
    )
    upd2 = docs.filter(F.col("doc_id") % M15_UPD_MOD == 0).select(
        F.col("doc_id").alias("key"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        F.concat(F.col("text"), F.lit(" v3")).alias("new_text"),
        "lang",
    )
    dele = docs.filter(F.col("doc_id") % M15_DEL_MOD == 0).select(
        F.col("doc_id").alias("key"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("new_text"),
        "lang",
    )
    ins = docs.filter(F.col("doc_id") % M15_INS_MOD == 0).select(
        (-F.col("doc_id") - 1).alias("key"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.concat(F.lit("new "), F.col("text")).alias("new_text"),
        "lang",
    )
    return upd1.unionByName(upd2).unionByName(dele).unionByName(ins)


def cdc_apply_rollup(docs: DataFrame, latest: DataFrame) -> DataFrame:
    """Apply a latest-change-per-key frame (key, op, new_text,
    chg_lang) to the base snapshot and roll up the post-merge state
    per lang — m15's merge+report, shared with the streaming twin
    (s7) so stream/batch parity is checked through one code path."""
    base = docs.select(F.col("doc_id").alias("key"), "text", "lang")
    merged = base.join(latest, "key", "full_outer").select(
        F.coalesce(F.col("lang"), F.col("chg_lang")).alias("rlang"),
        F.col("op"),
        F.col("text").isNotNull().alias("in_base"),
        F.when(
            F.coalesce(F.col("op"), F.lit("")) != "D",
            F.coalesce(F.col("new_text"), F.col("text")),
        ).alias("final_text"),
    )
    return (
        merged.groupBy(F.col("rlang").alias("lang"))
        .agg(
            F.sum(F.col("final_text").isNotNull().cast("long")).alias(
                "n_docs"
            ),
            F.sum(
                F.coalesce(F.length("final_text"), F.lit(0)).cast("long")
            ).alias("total_chars"),
            F.sum(((F.col("op") == "I")).cast("long")).alias("n_inserted"),
            F.sum(
                ((F.col("op") == "U") & F.col("in_base")).cast("long")
            ).alias("n_updated"),
            F.sum(
                ((F.col("op") == "D") & F.col("in_base")).cast("long")
            ).alias("n_deleted"),
        )
        .orderBy("lang")
    )


def m16_layout_scatter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout/clustering effectiveness audit — the decision input for
    Iceberg's ``rewrite_data_files`` with a sort order (Z-order /
    liquid-clustering family): given a probe column (``lang``), how
    many PLACEMENT UNITS must a probe touch under the as-ingested
    hash-scattered layout vs a key-clustered rewrite? The table is
    written BOTH ways (hive-partitioned by a deterministic md5-nibble
    ingest shard, then by the probe key), read back through the real
    partition-discovery path, and the per-key scatter measured with
    ``input_file_name()`` parsing — so the number is what the file
    index would actually do, not a simulation. ``units_scattered`` ≈
    all shards (every probe touches everything: the layout that makes
    100 TB scans key-blind) vs ``units_clustered`` = 1 (partition
    pruning serves each probe from one unit; the pruning itself is
    plan-asserted in ``tests/test_plans.py``).

    Scale shape: two one-pass writes (partitioned sinks — s10's
    machinery), one read-side distinct over (unit, key) pairs, output
    bounded by |langs|. At 100 TB the write is Iceberg's rewrite
    action; the report is identical.

    Oracle: the scattered layout's unit set is a pure function of the
    data (md5-nibble of doc_id), so DuckDB recomputes it exactly;
    units_clustered = 1 is the clustering INVARIANT the measured side
    must reproduce (Spark measures it from the clustered read, the
    oracle states it).
    """
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        "lang",
        (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
            )
            - 1
        )
        .cast("int")
        .alias("shard"),
    )
    base = _tmpdir()
    try:
        scat, clus = os.path.join(base, "scattered"), os.path.join(
            base, "clustered"
        )
        staged.write.partitionBy("shard").mode("overwrite").parquet(scat)
        staged.write.partitionBy("lang").mode("overwrite").parquet(clus)
        unit = F.regexp_extract(F.input_file_name(), r"(shard|lang)=([^/]+)", 2)
        ra = (
            spark.read.parquet(scat)
            .select("doc_id", "lang", unit.alias("unit"))
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("id_checksum"),
                F.countDistinct("unit").alias("units_scattered"),
            )
        )
        rb = (
            spark.read.parquet(clus)
            .select("doc_id", "lang", unit.alias("unit"))
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("__n_b"),
                F.sum("doc_id").alias("__ck_b"),
                F.countDistinct("unit").alias("units_clustered"),
            )
        )
        out = (
            ra.join(rb, "lang")
            # round-trip equality between the two layouts is part of
            # the contract: surface it as filters the oracle would
            # expose as row-count mismatches if ever violated
            .filter(
                (F.col("n_docs") == F.col("__n_b"))
                & (F.col("id_checksum") == F.col("__ck_b"))
            )
            .select(
                "lang",
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("id_checksum").cast("long").alias("id_checksum"),
                F.col("units_scattered").cast("long").alias("units_scattered"),
                F.col("units_clustered").cast("long").alias("units_clustered"),
            )
            .orderBy("lang")
        )
        from .util import materialize_release

        return materialize_release(spark, out)
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: m18 Z-order geometry: bits per dimension (levels = 2^B per dim,
#: z-values in [0, 4^B)) and the virtual placement-unit count.
M18_BITS = 4
M18_LEVELS = 1 << M18_BITS
M18_FILES = 16


def _m18_zspace(docs: DataFrame) -> tuple[DataFrame, dict]:
    """Shared m18/m20 Z-space: corpus stats, scaled dims, Morton z.

    Returns ``(dims, geom)`` where ``dims`` carries one row per doc
    with ``doc_id, n_chars, lang_rank, lang_id (rank scaled to the
    full B-bit word), lvl (fixed-width length level), z (the 2·B-bit
    interleave)`` — all exact integer arithmetic, SQL-replayable —
    and ``geom`` the bounded driver-side literals (corpus min/max,
    probe coordinates in BOTH systems: raw rank for hit tests, scaled
    word for zone-map tests; see m18's docstring for why the two
    coordinate systems exist). The two driver collects are a 1-row
    stats aggregate and the |langs| distinct set — the x15
    fit-literal discipline; nothing corpus-sized leaves the cluster.
    """
    stats = docs.agg(
        F.min(F.col("n_chars").cast("long")).alias("mn"),
        F.max(F.col("n_chars").cast("long")).alias("mx"),
        F.min("doc_id").alias("id0"),
        F.max("doc_id").alias("id1"),
    ).collect()[0]
    mn, mx = int(stats["mn"]), int(stats["mx"])
    id0, id1 = int(stats["id0"]), int(stats["id1"])
    span1 = mx - mn + 1
    idspan1 = id1 - id0 + 1
    langs = sorted(
        r["lang"] for r in docs.select("lang").distinct().collect()
    )
    # The probe lang lives in TWO coordinate systems: the hit test
    # compares raw ranks (exact at any cardinality), the zone touched
    # test compares scaled words (the space zone maps store). Both
    # values are derived here from the one rank so retuning the probe
    # to a non-first lang keeps the two tests consistent.
    probe_rank = 0  # alphabetically first lang
    probe_scaled = (
        (probe_rank * (M18_LEVELS - 1)) // max(len(langs) - 1, 1)
        if len(langs) > 1
        else 0
    )
    lang_rank = (
        F.array_position(
            F.array(*[F.lit(l) for l in langs]), F.col("lang")
        ).cast("int")
        - 1
    )
    # scale the rank to the full B-bit word (see m18 docstring); with
    # one lang the dim is constant 0 and the DIV-by-zero never
    # constructs
    lang_lvl = (
        F.expr(
            f"CAST((lang_rank * {M18_LEVELS - 1})"
            f" DIV {max(len(langs) - 1, 1)} AS INT)"
        )
        if len(langs) > 1
        else F.lit(0)
    )
    z_terms = " + ".join(
        f"(shiftleft((shiftright(lvl, {i}) & 1), {2 * i}))"
        f" + (shiftleft((shiftright(lang_id, {i}) & 1), {2 * i + 1}))"
        for i in range(M18_BITS)
    )
    dims = (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            lang_rank.alias("lang_rank"),
            F.expr(
                f"CAST(((CAST(n_chars AS BIGINT) - {mn}) * {M18_LEVELS})"
                f" DIV {span1} AS INT)"
            ).alias("lvl"),
        )
        .withColumn("lang_id", lang_lvl)
        .withColumn("z", F.expr(z_terms))
    )
    geom = {
        "mn": mn,
        "mx": mx,
        "id0": id0,
        "id1": id1,
        "span1": span1,
        "idspan1": idspan1,
        "zmax1": 1 << (2 * M18_BITS),  # z spans [0, 4^B) exactly
        "probe_rank": probe_rank,
        "probe_scaled": probe_scaled,
        "probe_lo": mn + (mx - mn) // 4,
        "probe_hi": mn + (mx - mn) // 2,
        "n_langs": len(langs),
    }
    return dims, geom


def m18_zorder_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout DESIGN report — the decision input for
    multi-dimensional clustering (Delta ``OPTIMIZE ZORDER BY`` /
    Iceberg ``rewrite_data_files`` with a z-sort order), the 2-D
    generalization of m16's single-key audit: for a probe predicate
    that constrains BOTH ``lang`` and a length range, how many
    placement units (and rows) must the scan touch when the table is
    laid out (a) z-ordered on (lang, length-level) — bit-interleaved
    Morton codes, (b) 1-D clustered on length alone, (c) in insertion
    (doc_id) order? Each layout assigns every row to one of
    ``M18_FILES`` fixed-width virtual units; zone maps (per-unit
    min/max of both dims) decide touchability exactly the way
    parquet row-group stats do. m16 proves pruning on REAL files for
    one key; m18 computes the multi-dim design table a maintenance
    job consults before paying for the rewrite — o11's design-before-
    execute discipline applied to storage layout.

    Everything is exact integer arithmetic so both engines agree
    bit-for-bit: the categorical dim is the rank of ``lang`` in the
    sorted distinct set SCALED to the full B-bit word
    (``rank·(2^B−1) DIV (|langs|−1)``) — scaling matters: raw ranks
    of a low-cardinality dim leave the word's high bits always-zero,
    so after ``z DIV files`` keeps only z's high bits the categorical
    contributes NOTHING and z-order degenerates to a coarser copy of
    the 1-D layout (caught by the engineered test before shipping;
    the standard Morton-code prescription is equal effective bit
    width per dim). The numeric dim is a fixed-width level
    ``((n_chars − min)·2^B) DIV (span+1)``; the z-value interleaves
    the two 4-bit words (length bits even, lang bits odd); unit ids
    are fixed-width range partitions of z / level / id-span (NO sort,
    no NTILE — the single-partition global-window trap stays out of
    the plan). The probe is data-derived and deterministic: the
    alphabetically first lang × the second length-span quartile.

    Scale shape: one bounded stats row + the |langs| literal feed a
    pure projection (dims, z, three unit ids); ``stack`` melts each
    row into its three (layout, unit) placements, and ONE hash-agg
    with map-side combine reduces 3·N rows to the 3×``M18_FILES``
    zone-map rollup — everything after is arithmetic on ≤48 rows. At
    100 TB the report costs one corpus scan; the rewrite it prices
    costs a full shuffle — which is exactly why the report runs
    first.

    Oracle: the identical integer pipeline in SQL (langs ranked by
    ``row_number`` over the distinct set, the same DIV/bit-shift
    z-interleave, three UNION ALL placements, the same zone-map
    intersection test).
    """
    docs = load_table(spark, sf_dir, "documents")
    dims, g = _m18_zspace(docs)
    mn, mx = g["mn"], g["mx"]
    id0, id1 = g["id0"], g["id1"]
    idspan1 = g["idspan1"]
    probe_rank = g["probe_rank"]
    probe_scaled = g["probe_scaled"]
    probe_lo, probe_hi = g["probe_lo"], g["probe_hi"]
    zmax1 = g["zmax1"]
    placed = dims.select(
        "lang_id",
        "n_chars",
        # hit tests the RAW rank: at ≥17 langs the scaled word maps
        # rank 1 onto 0 as well, and a scaled-value compare would
        # count wrong-lang rows as probe matches (review r12). The
        # zone-map touch test below stays in scaled space — there a
        # collision only makes pruning conservative, never wrong.
        (
            (F.col("lang_rank") == probe_rank)
            & F.col("n_chars").between(probe_lo, probe_hi)
        )
        .cast("long")
        .alias("hit"),
        F.expr(
            f"stack(3,"
            f" 'a_zorder',    CAST((z * {M18_FILES}) DIV {zmax1} AS INT),"
            f" 'b_bylen',     CAST(lvl AS INT),"
            f" 'c_insertion', CAST(((doc_id - {id0}) * {M18_FILES})"
            f"                     DIV {idspan1} AS INT)"
            f") AS (layout, unit)"
        ),
    )
    zones = placed.groupBy("layout", "unit").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("hit").alias("n_hits"),
        F.min("lang_id").alias("lg0"),
        F.max("lang_id").alias("lg1"),
        F.min("n_chars").alias("ch0"),
        F.max("n_chars").alias("ch1"),
    )
    touched = (
        (F.col("lg0") <= probe_scaled)
        & (F.col("lg1") >= probe_scaled)
        & (F.col("ch0") <= probe_hi)
        & (F.col("ch1") >= probe_lo)
    )
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_units"),
            F.sum(touched.cast("long")).cast("long").alias("units_touched"),
            F.sum(F.when(touched, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("n_hits").cast("long").alias("rows_matching"),
        )
        .withColumn(
            "waste_bp",
            F.expr(
                "CASE WHEN rows_scanned > 0 THEN"
                " (10000 * (rows_scanned - rows_matching)) DIV rows_scanned"
                " ELSE 0 END"
            ).cast("long"),
        )
        .orderBy("layout")
    )


def m20_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-extension: Z-ORDER sorted REWRITE — m18 prices the clustered
    layout, m20 PERFORMS it and measures the payoff on real files:
    the ``rewrite_data_files``-with-a-sort-order action (Delta
    ``OPTIMIZE ZORDER BY``) the m18 design report exists to justify
    (reference anchor: exploration_summary.md:100-112's "partition +
    cluster" recommendation — this is the operator that executes it).

    Both layouts are REAL partitioned parquet sinks read back through
    partition discovery, m16's measured-not-simulated discipline:

    * BEFORE — insertion order: unit = fixed-width ``doc_id`` range
      (m18's layout c), the as-ingested order of an append-only table.
    * AFTER — the rewrite proper: every row's Morton key ``z`` (the
      shared ``_m18_zspace`` interleave m18 designed with) maps to a
      fixed-width z-range unit; rows are repartitioned BY UNIT and
      z-sorted within each (``repartition(unit) →
      sortWithinPartitions(unit, z) → partitionBy(unit)``) — exactly
      the shuffle+sort Iceberg's rewrite action schedules, here with
      deterministic fixed-width boundaries instead of sampled range
      bounds so the whole run is oracle-replayable.

    Each layout's placement is then measured FROM THE FILES: the unit
    id is parsed back out of ``input_file_name()`` (never trusted
    from the staging column), per-unit zone maps (min/max of both
    probe dims) are aggregated the way parquet row-group stats would
    be, and m18's probe (first lang × second length quartile) decides
    touchability. Output: one row per layout with ``n_units,
    units_touched, rows_scanned, rows_matching, waste_bp`` — directly
    comparable to m18's ``a_zorder``/``c_insertion`` prediction rows,
    which the rewrite must reproduce (same arithmetic, now paid for
    with a real shuffle and real files).

    Scale shape: one corpus scan to stage dims, one shuffle per
    layout write (the rewrite IS a shuffle — that's its price, and
    why m18 runs first), one read-side aggregate per layout bounded
    by |units|. No corpus-sized collect; the z model is arithmetic,
    not state.
    """
    docs = load_table(spark, sf_dir, "documents")
    dims, g = _m18_zspace(docs)
    staged = dims.select(
        "doc_id",
        "n_chars",
        "lang_rank",
        "lang_id",
        "z",
        F.expr(
            f"CAST(((doc_id - {g['id0']}) * {M18_FILES})"
            f" DIV {g['idspan1']} AS INT)"
        ).alias("unit_ins"),
        F.expr(
            f"CAST((z * {M18_FILES}) DIV {g['zmax1']} AS INT)"
        ).alias("unit_z"),
    )
    base = _tmpdir()
    try:
        before_dir = os.path.join(base, "insertion")
        after_dir = os.path.join(base, "zorder")
        staged.withColumnRenamed("unit_ins", "unit").drop(
            "unit_z"
        ).write.partitionBy("unit").mode("overwrite").parquet(before_dir)
        # the rewrite proper: cluster by z-range unit, z-sort within
        (
            staged.withColumnRenamed("unit_z", "unit")
            .drop("unit_ins")
            .repartition(M18_FILES, "unit")
            .sortWithinPartitions("unit", "z")
            .write.partitionBy("unit")
            .mode("overwrite")
            .parquet(after_dir)
        )

        def measure(path: str, layout: str) -> DataFrame:
            unit = F.regexp_extract(
                F.input_file_name(), r"unit=([^/]+)", 1
            ).cast("int")
            zones = (
                spark.read.parquet(path)
                .select(
                    "n_chars",
                    "lang_rank",
                    "lang_id",
                    unit.alias("unit"),
                    (
                        (F.col("lang_rank") == g["probe_rank"])
                        & F.col("n_chars").between(
                            g["probe_lo"], g["probe_hi"]
                        )
                    )
                    .cast("long")
                    .alias("hit"),
                )
                .groupBy("unit")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("hit").alias("n_hits"),
                    F.min("lang_id").alias("lg0"),
                    F.max("lang_id").alias("lg1"),
                    F.min("n_chars").alias("ch0"),
                    F.max("n_chars").alias("ch1"),
                )
            )
            touched = (
                (F.col("lg0") <= g["probe_scaled"])
                & (F.col("lg1") >= g["probe_scaled"])
                & (F.col("ch0") <= g["probe_hi"])
                & (F.col("ch1") >= g["probe_lo"])
            )
            return zones.agg(
                F.count(F.lit(1)).cast("long").alias("n_units"),
                F.sum(touched.cast("long"))
                .cast("long")
                .alias("units_touched"),
                F.sum(F.when(touched, F.col("n_rows")).otherwise(0))
                .cast("long")
                .alias("rows_scanned"),
                F.sum("n_hits").cast("long").alias("rows_matching"),
            ).select(F.lit(layout).alias("layout"), "*")

        out = (
            measure(before_dir, "before_insertion")
            .unionByName(measure(after_dir, "after_zorder"))
            .withColumn(
                "waste_bp",
                F.expr(
                    "CASE WHEN rows_scanned > 0 THEN"
                    " (10000 * (rows_scanned - rows_matching))"
                    " DIV rows_scanned ELSE 0 END"
                ).cast("long"),
            )
            .orderBy("layout")
        )
        from .util import materialize_release

        return materialize_release(spark, out)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def two_snapshot_manifests(docs: DataFrame, base: str) -> tuple[list[str], list[str]]:
    """Write the copy-on-write two-snapshot fixture of m19 and e17
    under ``base`` and return (manifest-1 files, manifest-2 files).

    S1 = three one-file buckets A (doc_id%4==0), B (%4==1) and
    C (%4==2). Commit 2 rewrites B copy-on-write as B′ — %3==1 rows are
    dropped, %3==0 rows get their ``lang`` prefixed with ``rw:``, %3==2
    rows carry over verbatim — and appends D (%4==3). The rewrite
    marker is a prefix of the existing value, never a sentinel that
    could collide with a real lang, so a rewritten row differs from its
    S1 payload for ANY lang domain, NULL included. Manifest 1 is
    {A, B, C} and manifest 2 {A, B′, C, D}; each is written as JSON and
    the lists are read back from those files, as a changelog reader
    resolves a snapshot.
    """
    import json as _json

    buckets = {
        "A": docs.filter(F.col("doc_id") % 4 == 0),
        "B": docs.filter(F.col("doc_id") % 4 == 1),
        "C": docs.filter(F.col("doc_id") % 4 == 2),
    }
    b_rewritten = (
        buckets["B"]
        .filter(F.col("doc_id") % 3 != 1)
        .withColumn(
            "lang",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("rw:"), F.coalesce("lang", F.lit(""))),
            ).otherwise(F.col("lang")),
        )
    )
    d_new = docs.filter(F.col("doc_id") % 4 == 3)
    files: dict[str, list[str]] = {}
    for name, df in {**buckets, "Bp": b_rewritten, "D": d_new}.items():
        d = os.path.join(base, f"file-{name}")
        write_parquet(df, d, n_files=1)
        files[name] = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
    manifests = {
        "1": files["A"] + files["B"] + files["C"],
        "2": files["A"] + files["Bp"] + files["C"] + files["D"],
    }
    for snap, paths in manifests.items():
        with open(os.path.join(base, f"manifest-{snap}.json"), "w") as fh:
            _json.dump({"snapshot": snap, "files": paths}, fh)
    resolved = []
    for snap in manifests:
        with open(os.path.join(base, f"manifest-{snap}.json")) as fh:
            resolved.append(_json.load(fh)["files"])
    return resolved[0], resolved[1]


def m19_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-extension: snapshot-to-snapshot diff — the changelog read
    between two table versions (Iceberg's incremental
    ``create_changelog_view`` / Delta CDF) on the m11 manifest
    mechanism. Given snapshots S1 and S2 of a copy-on-write table,
    report per change class (added / deleted / changed / unchanged)
    the row count and id-checksum — the audit every incremental
    consumer (downstream dedup, index upsert, CDC mirror) runs before
    trusting a delta feed.

    The 100 TB shape is the point: files present in BOTH manifests are
    byte-identical on both sides, so their rows are provably unchanged
    WITHOUT a join — one metadata set-intersection prunes them to a
    single count/checksum scan (Iceberg's incremental read does
    exactly this at the manifest level). Only the symmetric-difference
    files — the rewritten and added ones, i.e. O(delta), never
    O(corpus) — enter the FULL OUTER join that classifies row fates.
    A naive corpus×corpus self-join diff would shuffle both snapshots
    in full; this plan shuffles only what the commit touched.

    Fixture (:func:`two_snapshot_manifests`; deterministic mod splits,
    so the whole lifecycle is oracle-checked): commit 2's rewrite of B
    gives %3==0 rows a new ``lang`` (changed), drops %3==1 rows
    (deleted) and carries %3==2 rows verbatim (unchanged via the JOIN
    path, proving payload compare works), and appends D (added). A and
    C flow through the shared-file fast path (unchanged via the PRUNE
    path — both unchanged routes exercised).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = _tmpdir()
    try:
        m1, m2 = two_snapshot_manifests(docs, base)
        shared = sorted(set(m1) & set(m2))
        only1 = sorted(set(m1) - set(m2))
        only2 = sorted(set(m2) - set(m1))
        # prune path: shared files are unchanged by construction of
        # immutable data files — one scan, no join
        sh = (
            spark.read.parquet(*shared)
            .agg(
                F.count(F.lit(1)).alias("n"),
                # empty shared set -> SUM is NULL; coalesce so the
                # int() below can't raise on a corpus with no rows in
                # the shared buckets
                F.coalesce(F.sum("doc_id"), F.lit(0)).alias("ck"),
            )
            .collect()[0]
        )
        # join path: only the delta files on each side. Presence is
        # carried as explicit flags — classifying on payload nullness
        # would misread a legitimately-NULL column as row absence —
        # and the payload compare is null-safe.
        s1 = spark.read.parquet(*only1).select(
            F.col("doc_id"),
            F.col("lang").alias("lang1"),
            F.lit(1).alias("in1"),
        )
        s2 = spark.read.parquet(*only2).select(
            F.col("doc_id"),
            F.col("lang").alias("lang2"),
            F.lit(1).alias("in2"),
        )
        fate = (
            s1.join(s2, "doc_id", "full_outer")
            .select(
                "doc_id",
                F.when(F.col("in1").isNull(), F.lit("added"))
                .when(F.col("in2").isNull(), F.lit("deleted"))
                .when(
                    ~F.col("lang1").eqNullSafe(F.col("lang2")),
                    F.lit("changed"),
                )
                .otherwise(F.lit("unchanged"))
                .alias("change_type"),
            )
            .groupBy("change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("doc_id"), F.lit(0)).alias("ck"),
            )
            .collect()
        )
        agg = {r["change_type"]: (int(r["n"]), int(r["ck"])) for r in fate}
        un_n, un_ck = agg.get("unchanged", (0, 0))
        rows = [
            ("added", *agg.get("added", (0, 0))),
            ("changed", *agg.get("changed", (0, 0))),
            ("deleted", *agg.get("deleted", (0, 0))),
            ("unchanged", un_n + int(sh["n"]), un_ck + int(sh["ck"])),
        ]
        return spark.createDataFrame(
            rows, "change_type string, n_rows long, id_checksum long"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


QUERIES = {
    "m18_zorder_design": m18_zorder_design,
    "m20_zorder_rewrite": m20_zorder_rewrite,
    "m19_snapshot_diff": m19_snapshot_diff,
    "m16_layout_scatter_report": m16_layout_scatter_report,
    "m15_cdc_merge": m15_cdc_merge,
    "s13_schema_evolution": s13_schema_evolution,
    "m14_drift_report": m14_drift_report,
    "m11_time_travel": m11_time_travel,
    "m12_vacuum_orphans": m12_vacuum_orphans,
    "m1_codec_benchmark": m1_codec_benchmark,
    "m1b_codec_sizes": m1b_codec_sizes,
    "m2_storage_efficiency": m2_storage_efficiency,
    "m2b_column_sizes": m2b_column_sizes,
    "m3_delta_append": m3_delta_append,
    "m4_compaction": m4_compaction,
    "m6_profile": m6_profile,
    "m7_contract_check": m7_contract_check,
    "m9_partition_overwrite": m9_partition_overwrite,
    "m10_skew_report": m10_skew_report,
    "m13_preflight_report": m13_preflight_report,
}

_M7_ORACLE = (
    """
    WITH a AS (
        SELECT COUNT(*) - COUNT(o_orderkey) AS null_orderkey,
               COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS dup_orderkey,
               SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                        THEN 1 ELSE 0 END) AS status_out_of_domain,
               SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                   AS nonpositive_price,
               SUM(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END)
                   AS price_above_400k,
               SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                        THEN 1 ELSE 0 END) AS date_before_1995
        FROM orders
    )
    """
    + "\nUNION ALL\n".join(
        f"SELECT '{r}' AS rule, CAST({r} AS BIGINT) AS n_violations FROM a"
        for r in _M7_RULES
    )
)

_M6_UNION = "\n        UNION ALL\n".join(
    f"""
        SELECT '{c}' AS "column",
               COUNT(*) - COUNT({c}) AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val
        FROM orders"""
    for c in _ORDERS_COLS
)

def _m18_sql(layouts: tuple[tuple[str, str], ...] | None = None) -> str:
    """m18/m20 oracle: the identical integer z-design pipeline — langs
    ranked over the distinct set, the same DIV level/unit arithmetic,
    the bit-interleave generated from M18_BITS exactly like the Spark
    expression (one generator per engine, same loop).

    ``layouts`` = (name, unit-SQL-over-zz) pairs for the placed CTE;
    m18 uses its three design layouts (the default), m20 the two it
    actually materializes (the before/after rewrite pair) — one
    generator, both operators, so prediction and measurement cannot
    drift."""
    z_terms = " + ".join(
        f"(((lvl >> {i}) & 1) << {2 * i})"
        f" + (((lang_id >> {i}) & 1) << {2 * i + 1})"
        for i in range(M18_BITS)
    )
    zmax1 = 1 << (2 * M18_BITS)
    if layouts is None:
        layouts = (
            ("a_zorder", f"CAST((z * {M18_FILES}) // {zmax1} AS INT)"),
            ("b_bylen", "CAST(lvl AS INT)"),
            (
                "c_insertion",
                f"CAST(((doc_id - id0) * {M18_FILES})"
                " // (id1 - id0 + 1) AS INT)",
            ),
        )
    placed_branches = "\n            UNION ALL\n            ".join(
        f"SELECT '{name}' AS layout, {unit} AS unit,"
        " lang_id, lang_rank, n_chars FROM zz"
        for name, unit in layouts
    )
    # the two 0 literals live in different coordinate systems: the
    # zone compare (here) is the SCALED word, the hit compare (zones
    # CTE) is the RAW rank — both are 0 only because the probe is the
    # first lang; a retuned probe must scale the zone-side literal
    # exactly like the Spark side's probe_scaled
    touched = (
        "lg0 <= 0 AND lg1 >= 0 AND ch0 <= (SELECT hi FROM pr)"
        " AND ch1 >= (SELECT lo FROM pr)"
    )
    return f"""
        WITH st AS (
            SELECT CAST(MIN(n_chars) AS BIGINT) AS mn,
                   CAST(MAX(n_chars) AS BIGINT) AS mx,
                   MIN(doc_id) AS id0, MAX(doc_id) AS id1
            FROM documents
        ), lr0 AS (
            SELECT lang,
                   CAST(row_number() OVER (ORDER BY lang) - 1 AS INT)
                       AS lang_rank
            FROM (SELECT DISTINCT lang FROM documents)
        ), lr AS (
            -- rank scaled to the full B-bit word (the Spark side's
            -- lang_lvl); single-lang corpora pin the dim to 0. The
            -- raw rank rides along: probe hits test IT (scaled words
            -- collide at >= 17 langs; zone tests stay scaled, where
            -- a collision is only conservative)
            SELECT lang, lang_rank,
                   CAST(CASE WHEN (SELECT COUNT(*) FROM lr0) > 1
                             THEN (lang_rank * {M18_LEVELS - 1})
                                  // ((SELECT COUNT(*) FROM lr0) - 1)
                             ELSE 0 END AS INT) AS lang_id
            FROM lr0
        ), pr AS (
            SELECT mn + (mx - mn) // 4 AS lo,
                   mn + (mx - mn) // 2 AS hi
            FROM st
        ), d AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                   lr.lang_id, lr.lang_rank,
                   CAST(((CAST(n_chars AS BIGINT) - st.mn)
                         * {M18_LEVELS}) // (st.mx - st.mn + 1) AS INT)
                       AS lvl,
                   st.id0, st.id1
            FROM documents JOIN lr USING (lang) CROSS JOIN st
        ), zz AS (
            SELECT doc_id, n_chars, lang_id, lang_rank, lvl, id0, id1,
                   {z_terms} AS z
            FROM d
        ), placed AS (
            {placed_branches}
        ), zones AS (
            SELECT layout, unit, COUNT(*) AS n_rows,
                   SUM(CASE WHEN lang_rank = 0
                             AND n_chars BETWEEN (SELECT lo FROM pr)
                                             AND (SELECT hi FROM pr)
                            THEN 1 ELSE 0 END) AS n_hits,
                   MIN(lang_id) AS lg0, MAX(lang_id) AS lg1,
                   MIN(n_chars) AS ch0, MAX(n_chars) AS ch1
            FROM placed GROUP BY layout, unit
        ), agg AS (
            SELECT layout,
                   CAST(COUNT(*) AS BIGINT) AS n_units,
                   CAST(SUM(CASE WHEN {touched} THEN 1 ELSE 0 END)
                        AS BIGINT) AS units_touched,
                   CAST(SUM(CASE WHEN {touched} THEN n_rows ELSE 0 END)
                        AS BIGINT) AS rows_scanned,
                   CAST(SUM(n_hits) AS BIGINT) AS rows_matching
            FROM zones GROUP BY layout
        )
        SELECT layout, n_units, units_touched, rows_scanned,
               rows_matching,
               CAST(CASE WHEN rows_scanned > 0
                         THEN (10000 * (rows_scanned - rows_matching))
                              // rows_scanned
                         ELSE 0 END AS BIGINT) AS waste_bp
        FROM agg ORDER BY layout
    """


#: m1 oracle: counts/checksum recomputed from the source table; the
#: file count is a stated invariant (the m16 units_clustered=1 idiom —
#: Spark measures it from real files). No compresses flag: that is
#: writer/environment-dependent and lives in m1b (ADVICE r14).
_M1_SQL = (
    "WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,"
    " CAST(SUM(o_orderkey) AS BIGINT) AS ck FROM orders)\n"
    f"SELECT codec, CAST({M1_FILES} AS BIGINT) AS n_files, t.n AS n_rows,"
    " t.ck AS id_checksum\n"
    "FROM (VALUES "
    + ", ".join(f"('{c}')" for c in sorted(CODECS))
    + ") c(codec) CROSS JOIN t ORDER BY codec"
)

#: m2 oracle: the footer's claims recomputed FROM THE DATA, one branch
#: per column of the fixture schema (generated from M2_ORDERS_COLUMNS).
_M2_SQL = (
    "SELECT * FROM (\n"
    + "\n    UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS null_count"
        " FROM orders"
        for c in M2_ORDERS_COLUMNS
    )
    + '\n) ORDER BY "column"'
)

ORACLE = {
    "m1_codec_benchmark": _M1_SQL,
    "m2_storage_efficiency": _M2_SQL,
    "m18_zorder_design": _m18_sql(),
    # m20: same generator, the two layouts the rewrite materializes —
    # the oracle is m18's PREDICTION for those layouts, so a pass
    # certifies the real-file rewrite delivered exactly the designed
    # pruning (ground truth independent of the write/readback path)
    "m20_zorder_rewrite": _m18_sql(
        (
            (
                "after_zorder",
                f"CAST((z * {M18_FILES}) // {1 << (2 * M18_BITS)} AS INT)",
            ),
            (
                "before_insertion",
                f"CAST(((doc_id - id0) * {M18_FILES})"
                " // (id1 - id0 + 1) AS INT)",
            ),
        )
    ),
    # m19: ground truth derived from the deterministic mod splits —
    # the operator computes the same classes from real manifest reads
    # + a delta-only full-outer join, so the two paths are independent.
    "m19_snapshot_diff": """
        WITH d AS (
            SELECT doc_id, doc_id % 4 AS m4, doc_id % 3 AS m3
            FROM documents
        )
        SELECT 'added' AS change_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS id_checksum
        FROM d WHERE m4 = 3
        UNION ALL
        SELECT 'changed', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
        FROM d WHERE m4 = 1 AND m3 = 0
        UNION ALL
        SELECT 'deleted', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
        FROM d WHERE m4 = 1 AND m3 = 1
        UNION ALL
        SELECT 'unchanged', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(doc_id), 0) AS BIGINT)
        FROM d WHERE m4 IN (0, 2) OR (m4 = 1 AND m3 = 2)
        ORDER BY change_type
    """,
    # m16: the scattered layout's unit set is a pure function of the
    # data (md5-nibble shard of doc_id); units_clustered = 1 is the
    # clustering invariant the measured read must reproduce.
    "m16_layout_scatter_report": """
        WITH s AS (
            SELECT doc_id, lang,
                   strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                       AS shard
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
               CAST(COUNT(DISTINCT shard) AS BIGINT) AS units_scattered,
               CAST(1 AS BIGINT) AS units_clustered
        FROM s GROUP BY lang ORDER BY lang
    """,
    "m15_cdc_merge": f"""
        WITH base AS (
            SELECT doc_id AS key, text, lang FROM documents
        ), chg AS (
            SELECT doc_id AS key, 1 AS seq, 'U' AS op,
                   text || ' v2' AS new_text, lang
            FROM documents WHERE doc_id % {M15_UPD_MOD} = 0
            UNION ALL
            SELECT doc_id, 2, 'U', text || ' v3', lang
            FROM documents WHERE doc_id % {M15_UPD_MOD} = 0
            UNION ALL
            SELECT doc_id, 3, 'D', NULL, lang
            FROM documents WHERE doc_id % {M15_DEL_MOD} = 0
            UNION ALL
            SELECT -doc_id - 1, 1, 'I', 'new ' || text, lang
            FROM documents WHERE doc_id % {M15_INS_MOD} = 0
        ), latest AS (
            SELECT key, op, new_text, lang AS chg_lang FROM (
                SELECT key, op, new_text, lang,
                       ROW_NUMBER() OVER (PARTITION BY key
                                          ORDER BY seq DESC, op) AS rn
                FROM chg
            ) WHERE rn = 1
        ), merged AS (
            SELECT COALESCE(b.lang, l.chg_lang) AS lang, l.op,
                   b.text IS NOT NULL AS in_base,
                   CASE WHEN COALESCE(l.op, '') <> 'D'
                        THEN COALESCE(l.new_text, b.text) END AS final_text
            FROM base b FULL OUTER JOIN latest l USING (key)
        )
        SELECT lang,
               CAST(SUM(CASE WHEN final_text IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs,
               CAST(SUM(COALESCE(length(final_text), 0)) AS BIGINT)
                   AS total_chars,
               CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_inserted,
               CAST(SUM(CASE WHEN op = 'U' AND in_base THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_updated,
               CAST(SUM(CASE WHEN op = 'D' AND in_base THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_deleted
        FROM merged GROUP BY lang ORDER BY lang
    """,
    "m14_drift_report": """
        WITH feat AS (
            SELECT doc_id % __D10MOD__ = 0 AS is_delta,
                   lpad(CAST(COALESCE(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 0)
                             // __TOKW__ AS VARCHAR), 6, '0') AS tok_bin,
                   lpad(CAST((__ALPHABP__)
                        // __QW__ AS VARCHAR), 6, '0') AS q_bin,
                   COALESCE(lang, '(null)') AS lang_bin
            FROM documents
        ), fb AS (
            SELECT is_delta, 'tokens' AS feature, tok_bin AS bin FROM feat
            UNION ALL
            SELECT is_delta, 'quality' AS feature, q_bin AS bin FROM feat
            UNION ALL
            SELECT is_delta, 'lang' AS feature, lang_bin AS bin FROM feat
        ), counts AS (
            SELECT feature, bin,
                   SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS n_base,
                   SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS n_delta
            FROM fb GROUP BY 1, 2
        ), shares AS (
            SELECT *,
                   (10000 * n_base)
                       // GREATEST(SUM(n_base) OVER (PARTITION BY feature), 1)
                       AS base_bp,
                   (10000 * n_delta)
                       // GREATEST(SUM(n_delta) OVER (PARTITION BY feature), 1)
                       AS delta_bp
            FROM counts
        ), gaps AS (
            SELECT *, ABS(base_bp - delta_bp) AS gap_bp FROM shares
        )
        SELECT feature, bin,
               CAST(n_base AS BIGINT) AS n_base,
               CAST(n_delta AS BIGINT) AS n_delta,
               CAST(base_bp AS BIGINT) AS base_bp,
               CAST(delta_bp AS BIGINT) AS delta_bp,
               CAST(gap_bp AS BIGINT) AS gap_bp,
               CAST(SUM(gap_bp) OVER (PARTITION BY feature) // 2 AS BIGINT)
                   AS feature_tvd_bp
        FROM gaps ORDER BY feature, bin
    """,
    # m13: the PERMISSION_HANDLING early-exit contract as a known-answer
    # constant — the Spark side actually runs the Hadoop-FS probes on a
    # fixture tree; this pins which checks pass/fail/block per regime.
    "m13_preflight_report": """
        SELECT * FROM (VALUES
            ('ok_tree', 'input_exists', true, false, false),
            ('ok_tree', 'input_listable', true, false, false),
            ('ok_tree', 'output_writable', true, false, false),
            ('missing_input', 'input_exists', false, false, true),
            ('missing_input', 'input_listable', false, false, true),
            ('missing_input', 'output_writable', true, false, false),
            ('bad_scheme', 'input_fs_resolvable', false, false, true),
            ('bad_scheme', 'input_exists', false, false, true),
            ('bad_scheme', 'input_listable', false, false, true),
            ('bad_scheme', 'output_writable', true, false, false),
            ('viewfs_tree', 'input_exists', true, false, false),
            ('viewfs_tree', 'input_listable', true, false, false),
            ('viewfs_tree', 'output_writable', true, false, false),
            ('viewfs_tree', 'object_store_committer', false, true, false)
        ) AS t(scenario, "check", ok, advisory, blocks_run)
    """,

    # m12: file counts are write_parquet constants (2 files × 2 commits
    # live, 2 orphan); rows/checksums derive from the mod-3 splits. A
    # mismatch on post_vacuum_* means vacuum deleted live data; on
    # orphan_* means it missed (or misread) the unreferenced files.
    "m12_vacuum_orphans": """
        SELECT 4 AS n_live_files, 2 AS n_orphan_files,
               CAST(COUNT(*) FILTER (doc_id % 3 = 2) AS BIGINT) AS orphan_rows,
               CAST(SUM(doc_id) FILTER (doc_id % 3 = 2) AS BIGINT)
                   AS orphan_checksum,
               CAST(COUNT(*) FILTER (doc_id % 3 IN (0, 1)) AS BIGINT)
                   AS post_vacuum_rows,
               CAST(SUM(doc_id) FILTER (doc_id % 3 IN (0, 1)) AS BIGINT)
                   AS post_vacuum_checksum
        FROM documents
    """,
    # snapshot 2 = commits 1+2 (mod 0 and 1); the rollback read of
    # snapshot 1 sees only mod 0 — divergence on either count or
    # checksum means a reader escaped its manifest.
    "m11_time_travel": """
        SELECT 2 AS snapshot,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        FROM documents WHERE doc_id % 3 IN (0, 1)
        UNION ALL
        SELECT 1,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(doc_id) AS BIGINT)
        FROM documents WHERE doc_id % 3 = 0
    """,
    "m10_skew_report": """
        WITH lf AS (
            SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1
        ), ef AS (
            SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1
        )
        SELECT 'lineitem' AS "table", 'l_orderkey' AS key,
               CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
               MAX(c) AS max_key_rows,
               ROUND(MAX(c) / AVG(c), 4) AS skew_ratio
        FROM lf
        UNION ALL
        SELECT 'events', 'user_id', CAST(SUM(c) AS BIGINT), COUNT(*), MAX(c),
               ROUND(MAX(c) / AVG(c), 4)
        FROM ef
    """,
    "m9_partition_overwrite": """
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P'
                                  THEN ((CAST(ROUND(o_totalprice * 100)
                                              AS BIGINT) * 11 + 5) // 10)
                                       / 100.0
                                  ELSE o_totalprice END
                             AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus
    """,
    "m7_contract_check": _M7_ORACLE,
    "s13_schema_evolution": """
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_with_new_col,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 1 AND o_totalprice > 100000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_large
        FROM orders
    """,
    # m1/m2: byte counts depend on writer version → rows-only.
    "m3_delta_append": """
        SELECT 'base' AS part, COUNT(*) AS n_rows FROM orders
            WHERE o_orderkey % 50 < 45
        UNION ALL
        SELECT 'delta_' || CAST(i AS VARCHAR), COUNT(*)
        FROM orders CROSS JOIN range(0, 5) t(i)
            WHERE o_orderkey % 50 = 45 + i
        GROUP BY i
        UNION ALL
        SELECT 'union_read', COUNT(*) FROM orders
    """,
    "m4_compaction": """
        SELECT 'fragmented' AS stage, 20 AS n_files, COUNT(*) AS n_rows FROM orders
        UNION ALL
        SELECT 'compacted', 3, COUNT(*) FROM orders
    """,
    "m6_profile": _M6_UNION,
}


# m14's oracle shares d10/e9's split constant and the bin widths —
# substituted here so the SQL above stays copy-paste runnable.
from .dedup import D10_DELTA_MOD as _M14_MOD  # noqa: E402
from .text import ALPHA_RATIO_BP_SQL_DUCK as _M14_ALPHA_BP  # noqa: E402

ORACLE["m14_drift_report"] = (
    ORACLE["m14_drift_report"]
    .replace("__ALPHABP__", _M14_ALPHA_BP)
    .replace("__D10MOD__", str(_M14_MOD))
    .replace("__TOKW__", str(M14_TOK_W))
    .replace("__QW__", str(M14_Q_W))
)

