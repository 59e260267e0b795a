"""Stream/batch parity and composite-pipeline invariants for the
driver-surface queries added in operators/streamq.py and etl.py:e2."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mirrulations_iceberg_spark.operators.etl import (
    E2_MIN_TOKENS,
    e2_training_pipeline,
)
from mirrulations_iceberg_spark.operators.streamq import (
    s1_stream_windowed_counts,
)
from mirrulations_iceberg_spark.tables import load_table
from mirrulations_iceberg_spark.operators.text import tokens_col

from .conftest import SF_DIR


def test_stream_equals_batch(spark):
    """The streaming engine's windowed aggregate must equal the same
    aggregation run as a plain batch query — Dataset parity, checked
    in-process (the DuckDB oracle checks it cross-engine)."""
    got = {tuple(r) for r in s1_stream_windowed_counts(spark, SF_DIR).collect()}
    events = load_table(spark, SF_DIR, "events")
    batch = (
        events.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("window_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    assert got == {tuple(r) for r in batch.collect()}


def test_e2_stages_monotone(spark):
    """Each pipeline stage only removes documents; the summary's totals
    must be consistent with the gate."""
    out = e2_training_pipeline(spark, SF_DIR).collect()
    assert out, "pipeline selected no documents"
    docs = load_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    n_quality = docs.filter(
        F.size(tokens_col(F.col("text"))) >= E2_MIN_TOKENS
    ).count()
    n_selected = sum(r.n_docs for r in out)
    assert 0 < n_selected <= n_quality <= n_docs
    for r in out:
        # sampled set obeys the quality gate
        assert r.avg_tokens >= E2_MIN_TOKENS
        assert r.total_tokens >= r.n_docs * E2_MIN_TOKENS


def test_s6_equals_d10_batch(spark):
    """s6's whole claim is stream/batch parity for the incremental
    dedup shape: the streaming stream-static anti-join must produce
    exactly d10's batch answer, row for row."""
    from mirrulations_iceberg_spark.operators.dedup import d10_incremental_dedup
    from mirrulations_iceberg_spark.operators.streamq import s6_stream_base_dedup

    got = {tuple(r) for r in s6_stream_base_dedup(spark, SF_DIR).collect()}
    want = {tuple(r) for r in d10_incremental_dedup(spark, SF_DIR).collect()}
    assert got == want and got


@pytest.mark.parametrize("scope", ["stream", "fit"])
def test_stream_state_conf_scoped_and_restored(spark, monkeypatch, scope):
    """Both scoped actions — a memory-sink stream and the Lloyd-fit
    collect — must plan under their own conf in a session clone while
    the caller's conf stays untouched during the action, after it AND
    after an error inside it."""
    from mirrulations_iceberg_spark.operators.similarity import (
        _embeddings,
        fit_artifacts,
    )
    from mirrulations_iceberg_spark.operators.streamq import (
        _path_bytes,
        stream_state_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    if scope == "stream":
        parts = stream_state_partitions(
            spark, _path_bytes(f"{SF_DIR}/events.parquet")
        )
        want = {"spark.sql.shuffle.partitions": str(parts)}
        from pyspark.sql.streaming import DataStreamWriter

        def run(body):
            # the stream's start is the action planned in the scope
            real_start = DataStreamWriter.start

            def start(writer, *a, **kw):
                body(writer._spark)
                return real_start(writer, *a, **kw)

            with monkeypatch.context() as m:
                m.setattr(DataStreamWriter, "start", start)
                s1_stream_windowed_counts(spark, SF_DIR).collect()

    else:
        want = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(min(cores, 64)),
        }
        emb = _embeddings(spark, SF_DIR)
        frame_cls = type(emb)

        def run(body):
            # the fit's one collect is the action planned in the scope
            real_collect = frame_cls.collect

            def collect(df):
                body(df.sparkSession)
                return real_collect(df)

            with monkeypatch.context() as m:
                m.setattr(frame_cls, "collect", collect)
                fit_artifacts(emb, ivf=True, pq=True)

    def current(session):
        return {k: session.conf.get(k) for k in want}

    original = current(spark)
    # caller values distinct from the scoped ones, so a leak shows
    caller = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "257",
    }
    try:
        for k in want:
            spark.conf.set(k, caller[k])
        mine = {k: caller[k] for k in want}
        seen = []

        def look(session):
            seen.append((session is spark, current(session), current(spark)))

        run(look)
        assert seen and all(s == (False, want, mine) for s in seen), seen
        assert current(spark) == mine

        def boom(session):
            raise RuntimeError("boom")

        with pytest.raises(RuntimeError, match="boom"):
            run(boom)
        assert current(spark) == mine
    finally:
        for k, v in original.items():
            spark.conf.set(k, v)


def test_stream_state_conf_sizes_from_input_bytes(spark):
    """Scale-adaptive state parallelism: the partition count grows with
    the input and saturates at the core count — tiny inputs get 1
    state task, production-sized inputs keep the cores rule."""
    from mirrulations_iceberg_spark.operators.streamq import (
        STREAM_STATE_TARGET_BYTES,
        stream_state_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    assert stream_state_partitions(spark, 1) == 1
    assert stream_state_partitions(spark, 3 * STREAM_STATE_TARGET_BYTES) == min(
        cores, 3
    )
    assert stream_state_partitions(spark, 10**15) == cores


def test_unsizeable_input_falls_back_to_cores_rule(spark, tmp_path):
    """An input this local probe cannot size (non-local
    URI, missing path, empty tree) must mean UNKNOWN → the cores rule —
    never 0 → 1 state partition, because the state-store layout is
    pinned at the checkpoint's first run and a spurious 1 would
    permanently serialize every stateful shuffle of a production
    (s3a://…) deployment."""
    from mirrulations_iceberg_spark.operators.streamq import (
        _path_bytes,
        stream_state_partitions,
    )

    # non-local URI schemes: os.walk would silently yield nothing
    assert _path_bytes("s3a://bucket/prefix/events") is None
    assert _path_bytes("hdfs://nn:8020/data/events.parquet") is None
    # missing path and empty directory: unknown, not tiny
    assert _path_bytes(str(tmp_path / "does_not_exist")) is None
    assert _path_bytes(str(tmp_path)) is None  # exists but 0 bytes under it
    # file:// on a real local file still sizes
    f = tmp_path / "x.bin"
    f.write_bytes(b"abc")
    assert _path_bytes(f"file://{f}") == 3
    assert _path_bytes(str(f)) == 3

    # and the sizing rule treats None/0 as the cores rule, not 1
    cores = spark.sparkContext.defaultParallelism
    assert stream_state_partitions(spark, None) == cores
    assert stream_state_partitions(spark, 0) == cores
    assert stream_state_partitions(spark, _path_bytes("s3a://bucket/events")) == cores
