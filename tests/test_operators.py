"""Operator-level properties that the oracle sweep can't express:
LSH⊆exact containment, shingle edge cases, profile correctness, band
key structure."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from mirrulations_iceberg_spark.operators.dedup import (
    bucket_pairs,
    d2_ngram_jaccard_pairs,
    d3_minhash_lsh_pairs,
    d4_simhash,
    jaccard_pairs,
    shingle_cap_report,
    shingles_col,
)
from mirrulations_iceberg_spark.operators.similarity import (
    TOP_K,
    x1_cosine_topk,
    x2_ann_lsh_topk,
)

from .conftest import SF_DIR


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("one two three four",)], ["text"])
    got = [r.s for r in df.select(shingles_col(F.col("text")).alias("s")).collect()]
    assert got[0] == []
    assert got[1] == ["one two three", "two three four"]


def test_shingle_cap_fires_and_is_observable(spark):
    """On a hot-key corpus the frequency cap must (a) actually suppress
    pair generation and (b) report the suppression as data — the
    cap's effect is a queryable number, never a silent recall loss."""
    # 6 docs sharing one ubiquitous shingle; 2 of them also share a
    # rare one. With the cap at 5 the hot shingle is silenced.
    hot = "alpha beta gamma"
    docs = spark.createDataFrame(
        [(i, hot) for i in range(6)]
        + [(10, hot + " delta epsilon"), (11, hot + " delta epsilon")],
        ["doc_id", "text"],
    )
    capped = jaccard_pairs(docs, threshold=0.01, max_shingle_freq=5)
    uncapped = jaccard_pairs(docs, threshold=0.01, max_shingle_freq=10_000)
    assert capped.count() < uncapped.count()
    rep = shingle_cap_report(docs, max_shingle_freq=5).collect()[0]
    assert rep.n_capped_shingles == 1  # the hot shingle, and only it
    assert rep.n_dropped_postings == 8  # all 8 docs carry it
    assert rep.max_df == 8
    clean = shingle_cap_report(docs, max_shingle_freq=10_000).collect()[0]
    assert clean.n_capped_shingles == 0  # cap idle ⇒ d2 output complete


def test_bucket_pairs_matches_combinations_and_group_min(spark):
    """``bucket_pairs`` over hand-built groups equals
    ``itertools.combinations`` of each kept group (pair mode) and each
    member with its group minimum (star mode). Kept: a group of exactly
    ``cap`` members; dropped: ``cap + 1`` members and a singleton. A
    pair that shares two groups comes back once per group."""
    cap = 4
    groups = {
        "at_cap": [7, 3, 9, 5],
        "over_cap": [1, 2, 3, 4, 6],
        "single": [8],
        "twice_1": [11, 12],
        "twice_2": [12, 11, 13],
    }
    rows = spark.createDataFrame(
        [(g, m) for g, ms in groups.items() for m in ms], "g string, m long"
    )
    kept = [sorted(ms) for ms in groups.values() if 1 < len(ms) <= cap]
    pairs = sorted(p for ms in kept for p in itertools.combinations(ms, 2))
    star = sorted((ms[0], m) for ms in kept for m in ms[1:])

    got = bucket_pairs(rows, ["g"], "m", cap=cap)
    assert got.columns == ["a", "b"]
    assert sorted(map(tuple, got.collect())) == pairs
    assert pairs.count((11, 12)) == 2
    got_star = bucket_pairs(rows, ["g"], "m", cap=cap, star=True)
    assert sorted(map(tuple, got_star.collect())) == star
    # no cap: the over-cap group's pairs come back too
    uncapped = bucket_pairs(rows, ["g"], "m").collect()
    assert len(uncapped) == len(pairs) + 10

    # struct members sort by their first field, whatever the second
    srows = spark.createDataFrame(
        [("k", 3, "a"), ("k", 1, "z"), ("k", 2, "m")], "g string, id long, v string"
    )
    got_s = bucket_pairs(srows, ["g"], F.struct("id", "v")).collect()
    assert sorted((r.a.id, r.b.id) for r in got_s) == [(1, 2), (1, 3), (2, 3)]
    assert {(r.a.id, r.a.v) for r in got_s} == {(1, "z"), (2, "m")}


def test_lsh_pairs_subset_of_exact(spark):
    """Every LSH-verified pair must appear in the exact-Jaccard result:
    LSH only prunes candidates, the verify step enforces the same
    threshold."""
    exact = {
        (r.doc_a, r.doc_b) for r in d2_ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in d3_minhash_lsh_pairs(spark, SF_DIR).collect()}
    assert lsh <= exact
    assert len(lsh) > 0  # identical twins must collide in every band


def test_simhash_band_keys(spark):
    df = d4_simhash(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows[:20]:
        # 4 bands of 15 bits reassemble into the full 60-bit key.
        reassembled = 0
        for i in range(4):
            reassembled |= (r[f"band_{i}"] & 0x7FFF) << (15 * i)
        assert reassembled == r.simhash


def test_exact_duplicates_share_simhash(spark):
    """Docs with identical fingerprints (d1's duplicate groups) must
    collide in simhash — the minimum bar for a near-dup key."""
    from mirrulations_iceberg_spark.operators.dedup import d1_exact_dedup
    from mirrulations_iceberg_spark.tables import load_table
    from mirrulations_iceberg_spark.operators.text import tokens_col

    docs = load_table(spark, SF_DIR, "documents")
    norm = F.concat_ws(" ", tokens_col(F.col("text")))
    fp = docs.select("doc_id", F.md5(norm).alias("fp"))
    sim = d4_simhash(spark, SF_DIR).select("doc_id", "simhash")
    joined = fp.join(sim, "doc_id")
    n_fp_groups = joined.select("fp").distinct().count()
    n_pair_groups = joined.select("fp", "simhash").distinct().count()
    assert n_fp_groups == n_pair_groups  # same fp ⇒ same simhash


def test_topk_is_ranked(spark):
    rows = x1_cosine_topk(spark, SF_DIR).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert len(rs) <= TOP_K


def test_lsh_recall_bounded(spark):
    rows = x2_ann_lsh_topk(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
        assert r.n_candidates >= 0


def test_x6_collapses_duplicate_clusters(spark, tmp_path):
    """The linear apply's non-trivial case: on a 20x-replicated
    embeddings table (every vector in a 20-copy identical cluster,
    cos = 1.0 within the cluster), x6 must keep exactly the original
    corpus — one minimum-id canonical per cluster — while candidate
    generation stays linear in bucket size."""
    from pyspark.sql import functions as F

    from mirrulations_iceberg_spark.operators.similarity import (
        x6_embedding_dedup_apply,
    )
    from mirrulations_iceberg_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    n_orig = emb.count()
    big = emb
    for k in range(1, 20):
        big = big.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + k * 1_000_000)
        )
    big.write.parquet(str(tmp_path / "embeddings.parquet"))
    row = x6_embedding_dedup_apply(spark, str(tmp_path)).collect()[0]
    assert row.n_kept == n_orig
    # every survivor is an original id (the cluster minimum)
    orig_sum = emb.agg(F.sum("vec_id")).collect()[0][0]
    assert row.id_checksum == orig_sum


def test_w11_funnel_ordering_and_horizon(spark, tmp_path):
    """Crafted funnel: in-order-in-horizon converts; click-before-view,
    click-outside-horizon, and purchase-outside-horizon all stop at
    the right step."""
    import datetime as dt

    from mirrulations_iceberg_spark.operators.windows import w11_funnel_steps

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, kind, hours):
        return (i, t0 + dt.timedelta(hours=hours), user, kind, 1.0, "{}")

    rows = [
        # u1: full funnel inside the 6 h horizon
        ev(1, 1, "view", 0), ev(2, 1, "click", 1), ev(3, 1, "purchase", 2),
        # u2: click strictly BEFORE its view — not a conversion
        ev(4, 2, "click", 0), ev(5, 2, "view", 1),
        # u3: click 7 h after view — outside the horizon
        ev(6, 3, "view", 0), ev(7, 3, "click", 7),
        # u4: purchase 7 h after click — step 2 yes, step 3 no
        ev(8, 4, "view", 0), ev(9, 4, "click", 1), ev(10, 4, "purchase", 8),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {r.event_type: (r.n_users, r.conv_from_prev_bp) for r in
           w11_funnel_steps(spark, str(tmp_path)).collect()}
    assert got == {
        "view": (4, 10000),
        "click": (2, 5000),
        "purchase": (1, 5000),
    }

    # dead-step edge: every click is outside the horizon, so step 2
    # has ZERO users — conversion must be 0 bp, not a DIV-0 error
    # (ANSI mode throws on DIV 0; DuckDB's // would return NULL)
    dead = [ev(1, 1, "view", 0), ev(2, 1, "click", 10), ev(3, 1, "purchase", 11)]
    spark.createDataFrame(
        dead, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "dead" / "events.parquet"))
    got = {r.event_type: (r.n_users, r.conv_from_prev_bp) for r in
           w11_funnel_steps(spark, str(tmp_path / "dead")).collect()}
    assert got == {
        "view": (1, 10000),
        "click": (0, 0),
        "purchase": (0, 0),
    }


def test_a15_exact_quantiles_with_ties_and_boundaries(spark, tmp_path):
    """a15 must return the true k-th smallest element even when values
    duplicate across the histogram bucket boundary (width 64)."""
    from mirrulations_iceberg_spark.operators.relational import (
        A15_QS,
        a15_exact_quantile_twopass,
    )

    vals = [63] * 40 + [64] * 30 + [65] * 20 + [200] * 11  # n=101, ties at 63/64
    rows = [(i, v) for i, v in enumerate(vals)]
    rows.append((len(rows), None))  # NULL n_chars must be excluded, not ranked
    spark.createDataFrame(
        rows, "doc_id long, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    expected_sorted = sorted(vals)
    got = {r.quantile: (r.n, r.k_rank, r.exact_value) for r in
           a15_exact_quantile_twopass(spark, str(tmp_path)).collect()}
    for q, label in A15_QS:
        k = (q * (len(vals) - 1)) // 100
        assert got[label] == (len(vals), k, expected_sorted[k]), label


def test_d13_semdedup_removes_exemplar_clones(spark, tmp_path):
    """SemDeDup's removal rule fires on a 20x-replicated corpus: each
    cluster exemplar's 19 identical clones (cos = 1.0) are removed,
    while unrelated fixture vectors (exemplar sims far below tau) all
    survive — so total removals are exactly 19 per non-empty cluster,
    and the base fixture removes nothing."""
    from pyspark.sql import functions as SF

    from mirrulations_iceberg_spark.operators.similarity import (
        IVF_CLUSTERS,
        d13_semdedup,
    )
    from mirrulations_iceberg_spark.tables import load_table

    base = d13_semdedup(spark, SF_DIR).collect()
    assert sum(r.n_removed for r in base) == 0  # random fixture: no near-dups
    assert all(0.0 <= r.avg_exemplar_sim <= 1.0 for r in base)

    emb = load_table(spark, SF_DIR, "embeddings")
    n_orig = emb.count()
    big = emb
    for k in range(1, 20):
        big = big.unionByName(
            emb.withColumn("vec_id", SF.col("vec_id") + k * 1_000_000)
        )
    big.write.parquet(str(tmp_path / "embeddings.parquet"))
    rows = d13_semdedup(spark, str(tmp_path)).collect()
    n_vecs = sum(r.n_vecs for r in rows)
    n_removed = sum(r.n_removed for r in rows)
    assert n_vecs == 20 * n_orig
    # identical clones share their original's cell, so every non-empty
    # cluster removes exactly its exemplar's 19 clones
    assert n_removed % 19 == 0
    assert 19 <= n_removed <= 19 * IVF_CLUSTERS


def test_x19_serve_scan_is_partition_pruned(spark, tmp_path):
    """x19's online half must read only probed cells: the coded corpus
    is hive-partitioned by IVF cell, and the probe-table join plans
    dynamic partition pruning (same contract as x7, coarser key).
    Reproduces the operator's exact serve-join shape on a scratch
    index."""
    from pyspark.sql import functions as F

    from mirrulations_iceberg_spark.operators.similarity import (
        N_QUERIES,
        _embeddings,
        _ivf_assign_cell_col,
        fit_artifacts,
    )

    emb = _embeddings(spark, SF_DIR)
    cent_lit = fit_artifacts(emb, ivf=True).cent_lit
    path = str(tmp_path / "index")
    emb.select(
        "vec_id", _ivf_assign_cell_col(cent_lit).alias("cell")
    ).repartition("cell").write.partitionBy("cell").parquet(path)
    idx = spark.read.parquet(path)
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _ivf_assign_cell_col(cent_lit).alias("cell"),
    )
    plan = (
        idx.join(F.broadcast(probes), "cell")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruningexpression" in plan


def test_x19_serve_equals_x18_inline_fit(spark):
    """The offline/online split is lossless: serving from persisted
    artifacts returns exactly the in-line-fit answer (parquet round-
    trips the fit doubles bit-exactly, so routing, codes, and the
    grade all agree row for row)."""
    from mirrulations_iceberg_spark.operators.similarity import (
        x18_ivfpq_topk,
        x19_ivfpq_build_serve,
    )

    a = sorted(map(tuple, x18_ivfpq_topk(spark, SF_DIR).collect()))
    b = sorted(map(tuple, x19_ivfpq_build_serve(spark, SF_DIR).collect()))
    assert a == b


def test_x7_index_scan_is_partition_pruned(spark, tmp_path):
    """The persisted ANN index must be read with dynamic partition
    pruning: the query-bucket join prunes the scan to probed
    partitions (dynamicpruningexpression in PartitionFilters), so a
    search never reads the whole index."""
    from pyspark.sql import functions as F

    from mirrulations_iceberg_spark.operators.similarity import (
        N_QUERIES,
        _bucket_cols,
        _embeddings,
    )

    emb = _embeddings(spark, SF_DIR).withColumn("bucket", _bucket_cols()[0])
    path = str(tmp_path / "index")
    emb.select("vec_id", "e", "norm", "bucket").write.partitionBy(
        "bucket"
    ).parquet(path)
    idx = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    plan = (
        idx.join(F.broadcast(q), "bucket")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruningexpression" in plan
