"""Driver-visible Structured Streaming queries (SURVEY §2.10).

The streaming package (`mirrulations_iceberg_spark.streaming`) holds
the production shapes — incremental ingest with quarantine, watermarked
append-mode windows, applyInPandasWithState sessions, stream-stream
joins — each pytest-verified. This module surfaces streaming on the
driver's correctness gate too: run a REAL streaming job over the
fixture (file source → stateful aggregation → memory sink,
`availableNow` trigger) and hand the finished result table to the
oracle compare. The claim being checked is stream/batch parity: the
same logical aggregation, executed incrementally over micro-batches
with state, must produce exactly the batch answer — Spark's
"Dataset-parity" contract, checked here against DuckDB rather than
assumed.

Reference parity: the reference's incremental conversion loop
(``convert_to_iceberg.py:956-1121``) reprocesses dockets sequentially;
the streaming twin is `streaming/incremental.py`. This module's
queries are the measurable tip of that surface.

Complete-output mode is used deliberately: it emits every window at
stream end, which is what a one-shot parity check needs. Production
(unbounded) runs use append mode + the watermark so state stays
bounded — that path, including finalize-once and late-drop semantics,
is covered in ``tests/test_streaming_semantics.py``.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import (
    ensure_events_read_conf,
    load_table,
    local_path,
    normalize_event_ts,
    parquet_schema,
)
from .util import scoped_conf


#: Input bytes one state partition is sized for. The state-store task
#: count is pure per-micro-batch fixed cost when state is small, so the
#: partition count must GROW from the data instead of starting at the
#: core count. Env-overridable for deployments whose per-key state is
#: far wider than their input rows.
STREAM_STATE_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_TARGET", str(32 << 20))
)


def _path_bytes(path: str) -> int | None:
    """Total bytes under ``path`` (file or directory) — the input-size
    term of the state-parallelism rule.

    Returns ``None`` — UNKNOWN, never "tiny" — for anything this
    local-filesystem probe cannot size: URI-schemed paths
    (``s3a://…``, ``hdfs://…`` — ``os.walk`` silently yields nothing
    there), unreadable paths, and empty/missing trees. The distinction
    matters at scale (VERDICT r16 #2): 0 bytes would clamp the
    state-store parallelism to ONE partition, and because the state
    layout is pinned at the checkpoint's first run, a production
    deployment whose input lives behind ``s3a://`` would permanently
    serialize every stateful shuffle. Unknown size must mean "fall
    back to the cores rule", which ``stream_state_conf`` does on
    ``None``.
    """
    local = local_path(path)
    if local is None:
        return None
    try:
        if os.path.isdir(local):
            total = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(local)
                for f in fs
            )
        else:
            total = os.path.getsize(local)
    except OSError:
        return None
    return total if total > 0 else None


def stream_state_conf(spark: SparkSession, input_bytes: int | None = None):
    """Right-size stateful-shuffle parallelism for the one-shot runs.

    The state-store partition count is pinned per checkpoint at first
    run and every partition becomes a task in EVERY micro-batch of
    every stateful operator — so it must be derived from the data, not
    left at the batch default. A plain driver session's 200 means
    200 near-empty state tasks per micro-batch here: measured at
    sf0.01, s5 costs 25.4 s at 200 partitions vs 4.9 s at 32 and
    2.4 s at 8 — pure scheduling overhead, zero semantic difference
    (state is hash-distributed; the oracles pin the results).

    Scale-adaptive (r16, guide §2.2/§2.5): with ``input_bytes`` the
    count is ``clamp(input_bytes / STREAM_STATE_TARGET_BYTES, 1,
    cores)`` — tiny inputs run one state task instead of ``cores``
    near-empty ones, and a production-sized feed saturates the cap at
    the executor core count, exactly the old rule's value. AQE cannot
    do this for us: adaptive coalescing is disabled in stateful
    streaming plans because the state-store layout must stay stable
    across micro-batches, so the initial number IS the final number.
    Callers that cannot size their input omit ``input_bytes`` (or pass
    ``None``/0 — UNKNOWN, e.g. ``_path_bytes`` on a non-local URI) and
    keep the core-count rule: an unsizeable input must never be
    mistaken for a tiny one (VERDICT r16 #2 — the state layout is
    pinned per checkpoint, so a spurious 1 would be permanent).

    Scoped and serialized by :func:`.util.scoped_conf`: set for the
    duration of the streaming run, restored afterwards so callers'
    batch work keeps its own setting.
    """
    cores = spark.sparkContext.defaultParallelism
    parts = cores
    if input_bytes:  # None/0 = unknown size → cores rule
        parts = max(
            1, min(cores, -(-int(input_bytes) // STREAM_STATE_TARGET_BYTES))
        )
    return scoped_conf(spark, {"spark.sql.shuffle.partitions": str(parts)})


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a file-source stream, with the same
    TIMESTAMP(NANOS) → timestamp conversion as ``tables.load_table``
    so stream and batch arithmetic agree."""
    ensure_events_read_conf(spark)
    batch_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    return normalize_event_ts(
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _run_to_table(
    agg: DataFrame, prefix: str, input_bytes: int | None = None
) -> DataFrame:
    """Execute a streaming aggregation to completion (availableNow)
    into a uniquely-named memory sink and return the result table.
    State parallelism is right-sized for the run (stream_state_conf)."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    with stream_state_conf(agg.sparkSession, input_bytes):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return agg.sparkSession.table(name)


def s1_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows, computed BY THE STREAMING
    ENGINE (file source → watermarked stateful agg → memory sink) and
    oracle-checked against the batch GROUP BY — stream/batch parity as
    a driver-visible correctness row, not a pytest-only claim.

    Decimal-stabilized sum keeps the check exact across micro-batch
    accumulation order (the same convention as the batch queries).
    """
    events = _events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "s1_sink", _path_bytes(f"{sf_dir}/events.parquet"))


def s2_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's conversion-resume loop as checkpointed streaming
    ingest, run through its full lifecycle ON the driver gate:

    1. drain the (seeded) docket tree — every valid comment lands,
       corrupt files quarantine;
    2. a late file arrives; a second AvailableNow run picks up ONLY the
       new file (the checkpoint is the reference's progress file, done
       right) and the id anti-join keeps the table exactly-once;
    3. a third run with nothing new is a no-op.

    The returned phase table is fully determined by the fixture, so the
    oracle is the ground truth itself — a hash match proves discovery,
    quarantine, incremental pickup, and idempotence in one row set.
    ``sf_dir`` is unused (the input is the synthesized JSON tree).
    """
    import json
    import os
    import shutil
    import tempfile

    from ..etl.fixtures import write_docket_tree
    from ..streaming.incremental import stream_comments

    base = tempfile.mkdtemp(prefix="miis_s2_")
    try:
        root, out, ckpt = f"{base}/tree", f"{base}/out", f"{base}/ckpt"
        write_docket_tree(root)
        tree_bytes = _path_bytes(root)

        def ids(path: str) -> DataFrame:
            # stream_comments wrote these tables, so their id column is
            # known: declaring it skips one inference job per read.
            return spark.read.schema("id STRING").parquet(path)

        with stream_state_conf(spark, tree_bytes):
            stream_comments(spark, root, out, ckpt).awaitTermination()
        n_initial = ids(out).count()

        docket = sorted(os.listdir(root))[0]
        late_id = f"{docket}-9999"
        late = {
            "data": {
                "id": late_id,
                "type": "comments",
                "links": {"self": f"https://example.invalid/comments/{late_id}"},
                "attributes": {
                    "docketId": docket,
                    "agencyId": docket.split("-")[0],
                    "comment": "late arrival",
                    "postedDate": "2025-03-01T00:00:00Z",
                    "withdrawn": False,
                },
            }
        }
        late_path = os.path.join(
            root, docket, "raw-data", "comments", f"{late_id}.json"
        )
        with open(late_path, "w") as f:
            json.dump(late, f)
        with stream_state_conf(spark, tree_bytes):
            stream_comments(spark, root, out, ckpt).awaitTermination()
        n_late = ids(out).count()

        with stream_state_conf(spark, tree_bytes):
            stream_comments(spark, root, out, ckpt).awaitTermination()
        n_rerun = ids(out).count()
        n_ids = ids(out).distinct().count()
        n_quarantined = ids(f"{out}_quarantine").count()
        rows = [
            ("initial_drain", n_initial),
            ("after_late_arrival", n_late),
            ("idempotent_rerun", n_rerun),
            ("distinct_ids", n_ids),
            ("quarantined", n_quarantined),
        ]
        return spark.createDataFrame(rows, "phase string, n_rows long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _s2_oracle() -> str:
    from ..etl.fixtures import expected_counts

    c = expected_counts()["comments"]
    rows = [
        ("initial_drain", c),
        ("after_late_arrival", c + 1),
        ("idempotent_rerun", c + 1),
        ("distinct_ids", c + 1),
        ("quarantined", expected_counts()["corrupt"]),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT '{p}' AS phase, {n} AS n_rows" for p, n in rows
    )


def s4_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once dedup-on-ingest — the streaming half of the dedup
    story: the same event file is delivered THREE times (three files,
    ``maxFilesPerTrigger=1`` → three micro-batches — at-least-once
    redelivery, the failure mode idempotent ingestion exists to
    absorb), and ``dropDuplicatesWithinWatermark(event_id)`` must emit
    every event exactly once. State stays bounded: the watermark
    evicts ids older than the delay, and redelivered rows behind the
    watermark drop as late data — both paths land on "emitted once".

    The oracle is simply the original events table aggregated — if ANY
    duplicate leaks through (or any event is lost to eviction racing),
    counts and checksums diverge. n_events vs n_unique inside the
    result additionally pins output-level uniqueness.
    """
    import shutil
    import tempfile

    ensure_events_read_conf(spark)
    base = tempfile.mkdtemp(prefix="miis_s4_")
    try:
        src = f"{sf_dir}/events.parquet"
        if os.path.isdir(src):
            # Replicated corpora (scalestress) land as multi-file
            # directories. Each delivery must stay ONE micro-batch:
            # the watermark advances between batches, so a delivery
            # split across triggers would drop its own tail as late
            # data — single-file it first.
            import glob

            spark.read.parquet(src).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{base}/.one")
            (part,) = glob.glob(f"{base}/.one/part-*.parquet")
            for i in range(3):
                shutil.copyfile(part, f"{base}/delivery{i}.parquet")
            shutil.rmtree(f"{base}/.one", ignore_errors=True)
        else:
            for i in range(3):
                shutil.copyfile(src, f"{base}/delivery{i}.parquet")
        schema = parquet_schema(spark, src)
        stream = normalize_event_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(base)
        )
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        name = f"s4_sink_{uuid.uuid4().hex[:8]}"
        with stream_state_conf(spark, _path_bytes(base)):
            q = (
                deduped.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # The memory sink has materialized — the scratch files can go.
        return (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("event_id").alias("n_unique"),
                F.sum("event_id").alias("id_checksum"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("total_value"),
            )
            .orderBy("event_type")
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def s3_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (gap sessionization via
    ``applyInPandasWithState`` — the pattern for operators Spark lacks)
    on the driver gate: run the stream over the events fixture and
    oracle-check the closed sessions against gap-sessionization SQL.

    Determinism: the fixture is one file → one data micro-batch
    (closing every session split by an in-batch gap), then availableNow
    runs a final timeout batch where the event-time timeout fires for
    any still-open session whose deadline (last event + gap, in ms)
    fell behind the final watermark (global max event time − 30 min).
    The oracle reproduces BOTH rules — a sharper check than it looks,
    because it verifies the state lifecycle (what closed, through which
    path, and what stayed open), not just the aggregation. Gap
    arithmetic is microsecond (the operator compares µs;
    second-truncated SQL would misplace gaps inside (1800 s, 1801 s)).
    """
    from ..streaming.sessions import sessionize_stream

    events = _events_stream(spark, sf_dir)
    sess = sessionize_stream(events.select("user_id", "ts", "value"))
    name = f"s3_sink_{uuid.uuid4().hex[:8]}"
    # deliberately UNSIZED (cores rule): the cost here is per-group
    # Python compute inside applyInPandasWithState, which wants all
    # cores regardless of input bytes — byte-sizing to 1 partition
    # serialized it (measured 8.4 s → 13.9 s at sf0.1, reverted)
    with stream_state_conf(spark):
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.unix_timestamp("session_start").alias("start_epoch"),
        F.unix_timestamp("session_end").alias("end_epoch"),
        "n_events",
        "session_value",
    )


def s5_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM join (purchase→click attribution,
    ``streaming/joins.py``) run to completion and reduced to a compact
    invariant: every (purchase, click) pair for the same user with the
    click ≤ 30 minutes before the purchase. Both sides carry watermarks
    and the join predicate carries the time range, so Spark derives a
    state-eviction bound for each side — the template for any
    stream-stream join at scale (unbounded state otherwise).

    The single availableNow micro-batch processes all data before the
    watermark advances, so no pair is dropped as late and the streaming
    result equals batch semantics — which is exactly what the oracle
    (the batch range join in SQL) checks. Summary output: pair count,
    distinct sides, id checksum and total gap — any missing or
    duplicated pair diverges at least one of them.
    """
    from ..streaming.joins import attributed_purchases

    joined = attributed_purchases(spark, sf_dir)
    name = f"s5_sink_{uuid.uuid4().hex[:8]}"
    with stream_state_conf(spark, _path_bytes(f"{sf_dir}/events.parquet")):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("purchase_id").alias("n_purchases"),
        F.countDistinct("click_id").alias("n_clicks"),
        F.sum("purchase_id").alias("purchase_checksum"),
        F.sum("gap_us").alias("gap_us_sum"),
    )


def s6_stream_base_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup — the STREAMING twin of d10
    (``dedup.d10_incremental_dedup``): new documents arrive as a
    stream, the existing corpus is a static table, and each
    micro-batch admits only content whose fingerprint the base does
    not already hold (stream-static LEFT ANTI join).

    Scale shape: stream-static joins are STATELESS — Spark keeps no
    join state across batches and re-plans the static side per batch,
    so the per-batch cost is the delta's own fingerprint projection
    plus the probe, and nothing grows with stream history. The static
    side reduces to a distinct 32-char fingerprint projection before
    the join (at 100 TB: the bucketed fingerprint table each d10
    ingest maintains), so text never crosses an exchange on either
    side. The per-lang aggregation after the join is the only stateful
    operator, bounded by |langs|.

    availableNow processes the whole fixture in one batch, so the
    streaming result equals d10's batch semantics — the oracle (the
    same delta-vs-base SQL as d10) checks exactly that stream/batch
    parity, not just row counts.
    """
    from .dedup import D10_DELTA_MOD, content_fp_from_toks, tokens_col

    batch_schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    fp = content_fp_from_toks(tokens_col(F.col("text"))).alias("fingerprint")
    is_delta = F.col("doc_id") % D10_DELTA_MOD == 0

    base_fps = (
        load_table(spark, sf_dir, "documents")
        .filter(~is_delta)
        .select(fp)
        .distinct()
    )
    delta = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(is_delta)
        .select("doc_id", "lang", fp)
    )
    novel = delta.join(base_fps, "fingerprint", "left_anti")
    # ONE stateful aggregation in-stream (chained streaming aggs are
    # not supported); the |fingerprints|→|langs| rollup runs batch-side
    # on the finished sink table — same result, and the stream's state
    # is exactly the per-fingerprint partial d10 keeps.
    agg = novel.groupBy("fingerprint", "lang").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return (
        _run_to_table(
            agg, "s6_sink", _path_bytes(f"{sf_dir}/documents.parquet")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_novel"),
            F.sum("n_copies").alias("n_delta_rows_represented"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


def s7_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert — the STREAMING twin of m15's MERGE: the
    change log arrives as four micro-batches (updates, then
    delete+update, then inserts, then a FULL REDELIVERY of batch 0 —
    at-least-once semantics), and the stream keeps one last-writer-
    wins row per key via ``max(struct(seq, ...))``. LWW-by-max is a
    commutative idempotent monoid, so redelivered changes are absorbed
    by the ALGEBRA — exactly-once output with no dedup state beyond
    the per-key aggregate itself (contrast s4, which needs
    dropDuplicatesWithinWatermark for a non-idempotent sink).

    The finished per-key state then merges into the static base
    snapshot through m15's exact apply+rollup code path
    (``maintenance.cdc_apply_rollup``), and the oracle IS m15's SQL —
    the claim checked is stream/batch parity of the whole CDC apply
    under redelivery.

    Scale shape: state is one row per CHANGED key (bounded by the
    delta, not the corpus); the post-stream merge is m15's single
    co-partitioned full-outer join.
    """
    import shutil
    import tempfile

    from .maintenance import cdc_apply_rollup, cdc_changes

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    changes = cdc_changes(docs)
    base_dir = tempfile.mkdtemp(prefix="miis_s7_")
    try:
        batches = [
            changes.filter((F.col("op") == "U") & (F.col("seq") == 1)),
            changes.filter(
                ((F.col("op") == "U") & (F.col("seq") == 2))
                | (F.col("op") == "D")
            ),
            changes.filter(F.col("op") == "I"),
            # at-least-once: batch 0 delivered again, verbatim
            changes.filter((F.col("op") == "U") & (F.col("seq") == 1)),
        ]
        # the file stream source lists the input dir FLAT — land each
        # delivery as a single file. ONE write job (partitioned by
        # delivery index), then move each part file up.
        import glob
        import os
        from functools import reduce

        scratch = f"{base_dir}/.scratch"
        tagged = reduce(
            DataFrame.unionByName,
            [b.withColumn("__d", F.lit(i)) for i, b in enumerate(batches)],
        )
        tagged.coalesce(1).write.mode("overwrite").partitionBy(
            "__d"
        ).parquet(scratch)
        for i in range(len(batches)):
            (part,) = glob.glob(f"{scratch}/__d={i}/part-*.parquet")
            os.replace(part, f"{base_dir}/delivery{i}.parquet")
        shutil.rmtree(scratch, ignore_errors=True)
        schema = changes.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(base_dir)
        )
        lww = stream.groupBy("key").agg(
            F.max(
                F.struct("seq", "op", "new_text", "lang")
            ).alias("last")
        )
        latest = _run_to_table(lww, "s7_sink", _path_bytes(base_dir)).select(
            "key",
            F.col("last.op").alias("op"),
            F.col("last.new_text").alias("new_text"),
            F.col("last.lang").alias("chg_lang"),
        )
        out = cdc_apply_rollup(docs, latest)
        # memory sink is materialized; collect before scratch cleanup
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


def s8_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED ingest monitoring — w16's CUSUM changepoint detector
    fed by the STREAMING engine: file source → complete-mode stateful
    (event_type, day) count — the state a monitoring deployment keeps
    incrementally as events arrive, bounded at |types|·|days| rows
    regardless of event volume — → memory sink, then the exact
    shared :func:`~.windows.w16_detect` window algebra over the
    drained rollup. The oracle IS w16's SQL verbatim, so the driver
    row proves stream/batch parity end-to-end (the s6/d10 pattern:
    one algorithm, two feeders, one oracle) — the alarm a streaming
    monitor raises is bit-identical to the batch backfill's.
    """
    import os

    from .windows import w16_detect

    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        # Replicated corpora (scalestress) land as multi-file
        # directories; the shared _events_stream globs for a FILE named
        # events.parquet and would stream zero rows. Stream the
        # directory itself instead (the s4 precedent — handled locally
        # so green s1/s5 don't re-enter the gate for this).
        ensure_events_read_conf(spark)
        schema = parquet_schema(spark, src)
        events = normalize_event_ts(
            spark.readStream.schema(schema).parquet(src)
        )
    else:
        events = _events_stream(spark, sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return w16_detect(_run_to_table(daily, "s8_sink", _path_bytes(src)))


def s9_stream_neardup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup admission — d18's streaming twin, completing
    the s-family pattern of one algorithm with two feeders (s6/d10
    exact, s7/m15 CDC, s8/w16 CUSUM, s9/d18 near-dup): delta documents
    arrive as a file-source stream in THREE deterministic deliveries
    (``maxFilesPerTrigger=1`` → three micro-batches), and each
    micro-batch runs d18's cross-frame banded-LSH probe
    (``dedup.minhash_lsh_cross_pairs_over``) against
    the STATIC base rep table inside ``foreachBatch`` — the shape a
    continuously-ingesting curation pipeline deploys: the base's
    signature index is standing state, each arriving batch probes it,
    and per-batch admission partials accumulate into the report.

    Cross-batch correctness is ALGEBRAIC — with one stated boundary: a
    content's flag depends only on (its shingles × the base), so
    however the delta splits into batches, per-(lang, fingerprint)
    sub-group counts and id-sums add — the final per-lang rollup
    (with ``flagged_bp`` computed AFTER summation, never averaged
    across batches) equals d18's single-pass batch answer. The oracle
    IS d18's SQL verbatim (the s6 parity discipline), so the driver
    row proves stream/batch parity of the whole admission pipeline.
    Both sides collapse through :func:`dedup.fingerprint_reps`, as in
    d18 (the base per fingerprint, each batch per (lang, fingerprint)),
    so the representative rule is d18's by construction.
    BOUNDARY: the LSH degenerate-bucket cap counts probe
    AND base rows per (band, bucket), so a bucket hot enough to trip
    it can be dropped by d18's all-at-once probe yet survive s9's
    smaller per-batch probes — exact parity is the contract only
    while the cap never fires (true on the fixture by orders of
    magnitude, and the tuned-production regime: set
    ``max_bucket_size`` for the batch size you feed; a firing cap is
    itself batch-composition-dependent and cannot be made
    batch-invariant without shipping the whole probe set). The
    boundary is EXECUTABLE, not prose: a runtime headroom guard below
    fails loudly when any possible bucket nears the cap, and
    ``tests/test_r15_operators.py`` pins the divergence-then-parity
    behavior on an engineered hot bucket.

    Scale shape: the base side reduces to one rep per fingerprint ONCE
    and is cached across micro-batches (at 100 TB: the stored,
    band-bucketed signature table each ingest co-locates against);
    per-batch cost is the batch's own collapse + LSH probe — nothing
    grows with stream history, no stream-side state beyond the
    engine's file tracking. Driver traffic per batch is the |langs|-row
    partial, the bounded-collect discipline.

    Reference anchor: the reference's incremental conversion loop
    (convert_to_iceberg.py:956-1121) admits new dockets with no
    near-dup screen; this is that loop's missing admission gate.
    """
    import glob
    import shutil
    import tempfile

    from .dedup import (
        D10_DELTA_MOD,
        content_fp_from_toks,
        fingerprint_reps,
        lsh_band_buckets,
        minhash_lsh_cross_pairs_over,
        minhash_signatures,
        parallelize_scan,
        tokens_col,
    )

    # parallelize_scan spreads the single-row-group fixture scan: the
    # base signature build below is the run's heaviest stage and would
    # otherwise run on one task
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    fp = content_fp_from_toks(tokens_col(F.col("text"))).alias("__fp")
    is_delta = F.col("doc_id") % D10_DELTA_MOD == 0
    # the collapsed base reps, SIGNED once: the standing signature
    # index every micro-batch probes (the stored-index shape of the
    # 100 TB story). Caching raw text here instead would re-shingle and
    # re-hash the whole base per batch.
    bg = fingerprint_reps(
        docs.filter(~is_delta).select("doc_id", "text", fp), ["__fp"], "text"
    ).select("doc_id", "text")
    base_sigs = minhash_signatures(bg).cache()
    # the base's band-bucket index is standing state too — computed and
    # cached ONCE, so each micro-batch shuffles only its own bands and
    # joins the stored index instead of re-exploding the whole base.
    base_buckets = lsh_band_buckets(base_sigs, "bids").cache()
    # Cap-proximity guard: the parity contract above holds
    # only while the LSH degenerate-bucket cap never fires — on either
    # side. The union of base signatures and the full delta's collapsed
    # reps bounds every bucket d18's all-at-once probe forms, and each
    # s9 batch's buckets are subsets (a (lang,fp) group's rep signature
    # is text-determined, identical per batch). Demand 2× headroom so a
    # fixture/scale change that nears the cap fails HERE with a
    # diagnosis instead of flipping the driver's parity row red with no
    # code bug. Cost: one signature pass over the collapsed delta reps
    # + a bounded hash-agg (measured occupancy 3–4 vs cap 1000).
    from .dedup import LSH_MAX_BUCKET, lsh_hottest_bucket

    dg_all = fingerprint_reps(
        docs.filter(is_delta).select("doc_id", "lang", "text", fp),
        ["lang", "__fp"],
        "text",
    ).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="miis_s9_")
    partials: list[tuple] = []
    try:
        # The guard pass and the delta landing write are independent
        # actions on independent lineages — run them from a 2-thread
        # pool so the landing back-fills the guard's tail instead of
        # queueing behind it. The guard reuses the CACHED base bucket
        # index for the base side of the occupancy (no second base
        # explode — lsh_hottest_bucket sums the sides' per-bucket
        # counts, which over disjoint id spaces is the occupancy of
        # the two sides' union). The raise still happens before any micro-batch
        # runs: both futures resolve before the stream starts.
        def _guard() -> int:
            return lsh_hottest_bucket(
                minhash_signatures(dg_all),
                extra_counts=base_buckets.select(
                    "band", "bucket", F.size("bids").alias("n")
                ),
            )

        def _land() -> None:
            # land the delta as three deliveries keyed on doc_id (one
            # write job partitioned by delivery index, each value
            # hashed to one task → one file per delivery; the s7
            # mechanism)
            scratch = f"{base}/.scratch"
            (
                docs.filter(is_delta)
                .withColumn("__d", (F.col("doc_id") % 3).cast("int"))
                .repartition("__d")
                .write.partitionBy("__d")
                .mode("overwrite")
                .parquet(scratch)
            )
            for k in range(3):
                parts = sorted(
                    glob.glob(f"{scratch}/__d={k}/part-*.parquet")
                )
                for j, p in enumerate(parts):
                    shutil.move(p, f"{base}/delivery_{k}_{j}.parquet")
            shutil.rmtree(scratch, ignore_errors=True)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            hot_fut = pool.submit(_guard)
            land_fut = pool.submit(_land)
            hottest = hot_fut.result()
            land_fut.result()
        if hottest > LSH_MAX_BUCKET // 2:
            raise RuntimeError(
                "s9 cap proximity: hottest (band,bucket) occupancy "
                f"{hottest} exceeds half the LSH cap ({LSH_MAX_BUCKET}); "
                "a firing cap is batch-composition-dependent and breaks "
                "the s9↔d18 stream/batch parity contract — raise the cap "
                "or shrink the delivery before trusting the driver row"
            )

        def probe(batch_df: DataFrame, _batch_id: int) -> None:
            dg = fingerprint_reps(
                batch_df.select("doc_id", "lang", "text", fp),
                ["lang", "__fp"],
                "text",
            )
            caches: list = []
            flagged = (
                minhash_lsh_cross_pairs_over(
                    dg.select("doc_id", "text"),
                    base_sigs=base_sigs,
                    base_buckets=base_buckets,
                    caches=caches,
                )
                .select(F.col("doc_a").alias("doc_id"))
                .distinct()
                .withColumn("__flag", F.lit(1))
            )
            rows = (
                dg.join(flagged, "doc_id", "left")
                .groupBy("lang")
                .agg(
                    F.sum("n").cast("long").alias("n_delta"),
                    F.coalesce(
                        F.sum(F.when(F.col("__flag") == 1, F.col("n"))),
                        F.lit(0),
                    )
                    .cast("long")
                    .alias("n_flagged"),
                    F.coalesce(
                        F.sum(
                            F.when(F.col("__flag") == 1, F.col("id_sum"))
                        ),
                        F.lit(0),
                    )
                    .cast("long")
                    .alias("flagged_id_checksum"),
                )
                .collect()
            )
            for c in caches:
                c.unpersist()
            partials.extend(
                (
                    r["lang"],
                    int(r["n_delta"]),
                    int(r["n_flagged"]),
                    int(r["flagged_id_checksum"]),
                )
                for r in rows
            )

        schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "delivery_*.parquet")
            .parquet(base)
        )
        # deliberately UNSIZED (cores rule, the s3 exception): the
        # stream itself is stateless (foreachBatch), so the conf here
        # governs the PROBE's batch-side shuffles — tokenize/shingle/
        # signature CPU work that wants all cores. Byte-sizing it to 1
        # partition serializes the probe (measured 12.8 s → 29.2 s in
        # the bench sweep). ``probe`` runs on the stream's
        # callback thread while this thread holds the conf lock, so it
        # must never enter scoped_conf (the RLock is per-thread: that
        # entry would deadlock).
        with stream_state_conf(spark):
            q = (
                stream.writeStream.foreachBatch(probe)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        rep = spark.createDataFrame(
            partials,
            "lang string, n_delta long, n_flagged long,"
            " flagged_id_checksum long",
        )
        return (
            rep.groupBy("lang")
            .agg(
                F.sum("n_delta").cast("long").alias("n_delta"),
                F.sum("n_flagged").cast("long").alias("n_flagged"),
                F.sum("flagged_id_checksum")
                .cast("long")
                .alias("flagged_id_checksum"),
            )
            .select(
                "lang",
                "n_delta",
                "n_flagged",
                (F.col("n_delta") - F.col("n_flagged")).alias("n_novel"),
                F.expr(
                    "CASE WHEN n_delta > 0 THEN"
                    " (10000 * n_flagged) DIV n_delta ELSE 0 END"
                ).alias("flagged_bp"),
                "flagged_id_checksum",
            )
            .orderBy("lang")
        )
    finally:
        base_sigs.unpersist()
        base_buckets.unpersist()
        shutil.rmtree(base, ignore_errors=True)


QUERIES = {
    "s7_stream_cdc_upsert": s7_stream_cdc_upsert,
    "s8_stream_cusum": s8_stream_cusum,
    "s9_stream_neardup_admission": s9_stream_neardup_admission,
    "s1_stream_windowed_counts": s1_stream_windowed_counts,
    "s2_incremental_ingest": s2_incremental_ingest,
    "s3_stream_sessions": s3_stream_sessions,
    "s4_stream_dedup": s4_stream_dedup,
    "s5_stream_attribution": s5_stream_attribution,
    "s6_stream_base_dedup": s6_stream_base_dedup,
}

def _s6_oracle() -> str:
    """The SAME delta-vs-base SQL as d10's oracle — s6's claim is
    stream/batch parity for the incremental-dedup shape, so the two
    entries intentionally share one ground truth."""
    from .dedup import ORACLE as DEDUP_ORACLE

    return DEDUP_ORACLE["d10_incremental_dedup"]


def _s7_oracle() -> str:
    """The SAME merge+rollup SQL as m15's oracle — s7's claim is
    stream/batch parity of the CDC apply under redelivery, so the two
    entries intentionally share one ground truth."""
    from .maintenance import ORACLE as MAINT_ORACLE

    return MAINT_ORACLE["m15_cdc_merge"]


def _s8_oracle() -> str:
    """s8's oracle is w16's SQL VERBATIM — equality against the batch
    detector's oracle is the stream/batch parity proof."""
    from .windows import ORACLE as _W

    return _W["w16_cusum_changepoint"]


def _s9_oracle() -> str:
    """s9's oracle is d18's SQL VERBATIM — the micro-batched admission
    must equal the single-pass batch admission (the s6 discipline)."""
    from .dedup import ORACLE as DEDUP_ORACLE

    return DEDUP_ORACLE["d18_incremental_neardup"]


ORACLE = {
    "s7_stream_cdc_upsert": _s7_oracle(),
    "s8_stream_cusum": _s8_oracle(),
    "s9_stream_neardup_admission": _s9_oracle(),
    "s6_stream_base_dedup": _s6_oracle(),
    "s5_stream_attribution": """
        WITH c AS (
            SELECT user_id, ts AS click_ts, event_id AS click_id
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
            FROM events WHERE event_type = 'purchase'
        ), pairs AS (
            SELECT p.purchase_id, c.click_id,
                   epoch_ns(p.purchase_ts) // 1000
                   - epoch_ns(c.click_ts) // 1000 AS gap_us
            FROM p JOIN c ON p.user_id = c.user_id
                 AND p.purchase_ts >= c.click_ts
                 AND p.purchase_ts <= c.click_ts + INTERVAL '30 minutes'
        )
        SELECT COUNT(*) AS n_pairs,
               COUNT(DISTINCT purchase_id) AS n_purchases,
               COUNT(DISTINCT click_id) AS n_clicks,
               CAST(SUM(purchase_id) AS BIGINT) AS purchase_checksum,
               CAST(SUM(gap_us) AS BIGINT) AS gap_us_sum
        FROM pairs
    """,
    "s4_stream_dedup": """
        SELECT event_type, COUNT(*) AS n_events,
               COUNT(DISTINCT event_id) AS n_unique,
               CAST(SUM(event_id) AS BIGINT) AS id_checksum,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "s2_incremental_ingest": _s2_oracle(),
    # Gap sessionization in SQL with MICROSECOND arithmetic, minus each
    # user's final (still-open) session — see the s3 docstring.
    "s3_stream_sessions": """
        WITH e AS (
            SELECT user_id, epoch_ns(ts) // 1000 AS us, value
            FROM events
        ), gaps AS (
            SELECT user_id, us, value,
                   us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                       AS gap_us
            FROM e
        ), flagged AS (
            SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                           THEN 1 ELSE 0 END AS new_session
            FROM gaps
        ), sessions AS (
            SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                        ORDER BY us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS session_id
            FROM flagged
        ), agg AS (
            SELECT user_id, session_id,
                   MIN(us) // 1000000 AS start_epoch,
                   MAX(us) // 1000000 AS end_epoch,
                   MAX(us) AS end_us,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS session_value
            FROM sessions GROUP BY user_id, session_id
        )
        SELECT user_id, start_epoch, end_epoch, n_events, session_value
        FROM agg
        WHERE session_id < (SELECT MAX(a2.session_id) FROM agg a2
                            WHERE a2.user_id = agg.user_id)
           -- …or the final session's event-time timeout fired: its
           -- deadline (end + gap, ms) fell behind the final watermark
           -- (global max event time - 30 min, ms).
           OR (end_us // 1000 + 1800000)
              <= (SELECT MAX(us) FROM e) // 1000 - 1800000
    """,
    "s1_stream_windowed_counts": """
        -- epoch_ns, not epoch(): epoch() returns DOUBLE seconds, which
        -- cannot hold nanosecond timestamps exactly and rounds
        -- boundary-adjacent events into the next hour.
        SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_epoch,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2
    """,
}
