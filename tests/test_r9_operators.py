"""Engineered known-answer tests for the mid-round-9 operators
(e10 / d16 / t16 / e11 / o10) — invariants that hold by construction
and would catch a refactor that still happens to match a buggy oracle.
The oracle-parity sweep (test_oracle_parity.py) covers cross-engine
equality; these pin the SEMANTICS on corpora built to exercise each
operator's decision boundaries."""

from __future__ import annotations

import os

from mirrulations_iceberg_spark.operators.dedup import (
    d16_cluster_best_select,
    d17_split_leakage,
    t16_source_overlap,
)
from mirrulations_iceberg_spark.operators.etl import (
    E10_STAGE0_BP,
    E10_STAGE1_BP,
    E11_MAX_EPOCHS,
    e10_curriculum_schedule,
    e11_epoch_cap_allocation,
)
from mirrulations_iceberg_spark.operators.text import (
    apply_bpe_merge,
    t17_bpe_pair_stats,
)
from mirrulations_iceberg_spark.operators.similarity import (
    x1_cosine_topk,
    x15_sq_int8_recall,
)
from mirrulations_iceberg_spark.operators.relational import (
    O10_QUOTA,
    o10_stratified_quota_sample,
)

from .conftest import SF_DIR, documents_oracle_mismatch, write_docs


def test_e10_engineered_stage_assignment(spark, tmp_path):
    """One doc per stage, quality pinned by construction: all-alpha
    text scores 10000 bp (stage 0), 82 alpha chars out of 100 scores
    8200 (between the cut points -> stage 1), half-punctuation text
    scores well under 8190 (stage 2)."""
    assert E10_STAGE1_BP < 8200 < E10_STAGE0_BP  # guards the fixture
    clean = "a" * 40                            # 10000 bp
    mid = "a" * 82 + "!" * 18                   # 8200 bp
    noisy = "a" * 50 + "!" * 50                 # 5000 bp
    sf = write_docs(
        spark,
        tmp_path,
        [(1, clean, "en", "s"), (2, mid, "en", "s"), (3, noisy, "en", "s")],
    )
    rows = e10_curriculum_schedule(spark, sf).collect()
    by_stage = {}
    for r in rows:
        agg = by_stage.setdefault(r["stage"], [0, 0])
        agg[0] += r["n_docs"]
        agg[1] += r["id_checksum"]
    assert by_stage == {0: [1, 1], 1: [1, 2], 2: [1, 3]}
    for r in rows:  # order keys are hex md5, bucket = first digit
        assert r["first_key"] <= r["last_key"]
        assert r["first_key"][0] == r["bucket"]


def test_e10_stage_counts_partition_the_corpus(spark):
    rows = e10_curriculum_schedule(spark, SF_DIR).collect()
    import duckdb

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n
    assert {r["stage"] for r in rows} <= {0, 1, 2}


def test_d16_engineered_keeps_best_quality(spark, tmp_path):
    """Three docs with IDENTICAL token streams (so they cluster with
    Jaccard 1) but different punctuation loads: the keep decision must
    pick the cleanest copy, NOT the min-id one (the d8 default this
    operator exists to improve on). A disjoint singleton must not
    appear at all."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " !!!!!!!!!!!!", "en", "s"),  # noisiest, min id
        (2, base, "en", "s"),                    # cleanest -> kept
        (3, base + " ???", "en", "s"),           # middle
        (9, "totally unrelated words only here nothing shared at all",
         "en", "s"),
    ]
    sf = write_docs(spark, tmp_path, rows)
    out = d16_cluster_best_select(spark, sf).collect()
    assert len(out) == 1
    c = out[0]
    assert c["component"] == 1          # min member id labels the cluster
    assert c["n_members"] == 3
    assert c["kept_doc"] == 2           # argmax quality, not min id
    assert c["kept_quality_bp"] > 8000
    assert c["n_dropped"] == 2


def test_t16_engineered_pairwise_overlap(spark, tmp_path):
    """srcA/srcB share 2 of their 3+3 shingles (jaccard 2/4 = 0.5);
    srcC is disjoint, so exactly one pair row exists."""
    rows = [
        (1, "a b c d e", "en", "srcA"),   # shingles: abc bcd cde
        (2, "a b c d x", "en", "srcB"),   # shingles: abc bcd cdx
        (3, "p q r s t", "en", "srcC"),
    ]
    sf = write_docs(spark, tmp_path, rows)
    out = t16_source_overlap(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["src_a"], r["src_b"]) == ("srcA", "srcB")
    assert (r["n_a"], r["n_b"], r["common"]) == (3, 3, 2)
    assert r["jaccard"] == 0.5


def test_t16_fixture_matrix_shape(spark):
    rows = t16_source_overlap(spark, SF_DIR).collect()
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert 1 <= r["common"] <= min(r["n_a"], r["n_b"])
        assert 0.0 < r["jaccard"] <= 1.0


def test_e11_engineered_caps_bind(spark, tmp_path):
    """A source of many tiny pristine docs carries outsized quality
    mass but minimal supply: its quality-weighted want exceeds the
    repeat ceiling, so it must come back capped at exactly
    MAX_EPOCHS (epochs_bp == 10000 * R)."""
    rows = [(i, "abc", "en", "tiny") for i in range(1, 11)]
    rows.append(
        (99, " ".join("w%d!!!" % i for i in range(100)), "en", "big")
    )
    sf = write_docs(spark, tmp_path, rows)
    out = {r["source"]: r for r in e11_epoch_cap_allocation(spark, sf).collect()}
    tiny = out["tiny"]
    assert tiny["capped"] == 1
    assert tiny["alloc_tokens"] == tiny["cap_tokens"]
    assert tiny["epochs_bp"] == 10000 * E11_MAX_EPOCHS
    assert tiny["want_tokens"] > tiny["cap_tokens"]
    for r in out.values():
        assert r["alloc_tokens"] <= r["cap_tokens"]
        assert (r["capped"] == 1) == (r["alloc_tokens"] == r["cap_tokens"])
        assert r["epochs_bp"] <= 10000 * E11_MAX_EPOCHS


def test_e11_fixture_allocation_is_feasible(spark):
    rows = e11_epoch_cap_allocation(spark, SF_DIR).collect()
    total_supply = sum(r["n_tokens"] for r in rows)
    budget = 2 * total_supply  # E11_BUDGET_EPOCHS
    assert sum(r["alloc_tokens"] for r in rows) <= budget
    assert any(r["capped"] == 1 for r in rows)      # constants chosen so
    assert any(r["capped"] == 0 for r in rows)      # the split is real


def test_o10_engineered_quota_exceeds_stratum(spark, tmp_path):
    """A stratum smaller than the quota returns ALL its rows (ranks
    stay dense 1..n), never pads or errors."""
    rows = [(i, "word", "en", "small") for i in range(1, 4)]  # 3 < quota
    rows += [(100 + i, "word", "en", "full") for i in range(20)]
    sf = write_docs(spark, tmp_path, rows)
    out = o10_stratified_quota_sample(spark, sf).collect()
    small = [r for r in out if r["source"] == "small"]
    full = [r for r in out if r["source"] == "full"]
    assert [r["rk"] for r in small] == [1, 2, 3]
    assert [r["rk"] for r in full] == list(range(1, O10_QUOTA + 1))
    keys = [r["skey"] for r in full]
    assert keys == sorted(keys)  # rank follows the seeded hash order


def test_m14_engineered_disjoint_lang_drift(spark, tmp_path):
    """Base (ids 1,2) is all-'en'; the arriving delta (ids 5,10 — the
    d10 split) is all-'de': lang TVD must be exactly 10000 bp (total
    drift), while tokens/quality — identical texts — show zero."""
    from mirrulations_iceberg_spark.operators.maintenance import (
        m14_drift_report,
    )

    text = "same words every time"
    rows = [
        (1, text, "en", "s"),
        (2, text, "en", "s"),
        (5, text, "de", "s"),
        (10, text, "de", "s"),
    ]
    sf = write_docs(spark, tmp_path, rows)
    out = m14_drift_report(spark, sf).collect()
    tvd = {r["feature"]: r["feature_tvd_bp"] for r in out}
    assert tvd == {"lang": 10000, "tokens": 0, "quality": 0}
    lang_bins = {r["bin"]: r for r in out if r["feature"] == "lang"}
    assert lang_bins["en"]["n_base"] == 2 and lang_bins["en"]["n_delta"] == 0
    assert lang_bins["de"]["n_base"] == 0 and lang_bins["de"]["n_delta"] == 2
    assert lang_bins["en"]["gap_bp"] == 10000


def test_x13_curve_is_monotone(spark):
    """More tables can only ADD candidates (first_t < L is monotone in
    L), so candidate volume and hit count must be non-decreasing along
    the curve, recall bounded in [0, 10000], and the L=8 point must
    dominate every other operating point."""
    from mirrulations_iceberg_spark.operators.similarity import (
        X13_LEVELS,
        x13_lsh_recall_curve,
    )

    rows = x13_lsh_recall_curve(spark, SF_DIR).collect()
    assert [r["n_tables"] for r in rows] == list(X13_LEVELS)
    cands = [r["n_candidates"] for r in rows]
    hits = [r["n_hits"] for r in rows]
    assert cands == sorted(cands)
    assert hits == sorted(hits)
    for r in rows:
        assert 0 <= r["recall_bp"] <= 10000
        assert r["n_hits"] <= r["n_candidates"]


def test_e12_curve_invariants(spark):
    """Total tokens are budget-invariant (packing never drops or
    splits), bin count is non-increasing in budget, and fill can only
    exceed 10000 bp through overflow bins."""
    from mirrulations_iceberg_spark.operators.etl import (
        E12_BUDGETS,
        e12_packing_curve,
    )

    rows = e12_packing_curve(spark, SF_DIR).collect()
    assert [r["budget"] for r in rows] == list(E12_BUDGETS)
    assert len({r["total_tokens"] for r in rows}) == 1
    n_bins = [r["n_bins"] for r in rows]
    assert n_bins == sorted(n_bins, reverse=True)
    for r in rows:
        if r["fill_bp"] > 10000:
            assert r["n_overflow_bins"] > 0


def test_e12_engineered_overflow(spark, tmp_path):
    """One 100-token doc: at budget 64 it packs alone into a single
    overflowing bin (never split, never dropped), at 128+ it fits."""
    from mirrulations_iceberg_spark.operators.etl import (
        e12_packing_curve,
    )

    rows = [(1, " ".join(f"w{i}" for i in range(100)), "en", "s")]
    sf = write_docs(spark, tmp_path, rows)
    out = {r["budget"]: r for r in e12_packing_curve(spark, sf).collect()}
    assert out[64]["n_bins"] == 1
    assert out[64]["n_overflow_bins"] == 1
    assert out[64]["fill_bp"] > 10000
    assert out[128]["n_overflow_bins"] == 0
    assert out[128]["total_tokens"] == 100


def test_x14_quota_and_coverage(spark):
    """Every cell keeps min(quota, its population), kept sets are
    disjoint subsets of the cell populations, and total coverage
    equals the corpus when cells are small or quota × cells when
    saturated."""
    from mirrulations_iceberg_spark.operators.similarity import (
        X14_QUOTA,
        x14_cluster_balanced_sample,
    )

    rows = x14_cluster_balanced_sample(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_kept"] == min(X14_QUOTA, r["n_total"])
        assert r["n_kept"] >= 1
        assert r["kept_checksum"] > 0


def test_o10_is_deterministic_across_runs(spark):
    a = [tuple(r) for r in o10_stratified_quota_sample(spark, SF_DIR).collect()]
    b = [tuple(r) for r in o10_stratified_quota_sample(spark, SF_DIR).collect()]
    assert a == b
    per_src = {}
    for r in a:
        per_src[r[0]] = per_src.get(r[0], 0) + 1
    assert all(v <= O10_QUOTA for v in per_src.values())


def test_d17_engineered_split_leakage(spark, tmp_path):
    """Split membership is pinned by md5(doc_id) (computed here with
    hashlib, independently of both engines): ids 1,2,4,6 are train;
    3,5,10 are holdout. One identical-text pair per category plus a
    singleton -> exact expected counts and basis points."""
    t1 = "alpha bravo charlie delta echo foxtrot"
    t2 = "golf hotel india juliet kilo lima"
    t3 = "mike november oscar papa quebec romeo"
    t4 = "sierra tango uniform victor whiskey xray"
    sf = write_docs(
        spark,
        tmp_path,
        [
            (1, t1, "en", "s"),   # train  ┐ cross_split pair
            (3, t1, "en", "s"),   # holdout┘
            (2, t2, "en", "s"),   # train ┐ within_train pair
            (4, t2, "en", "s"),   # train ┘
            (5, t3, "en", "s"),   # holdout┐ within_holdout pair
            (10, t3, "en", "s"),  # holdout┘
            (6, t4, "en", "s"),   # train singleton
        ],
    )
    rows = {r["category"]: r for r in d17_split_leakage(spark, sf).collect()}
    assert set(rows) == {"cross_split", "within_train", "within_holdout"}
    # 3 holdout docs total (3, 5, 10)
    cross = rows["cross_split"]
    assert (cross["n_pairs"], cross["n_holdout_docs"], cross["leak_bp"]) == (
        1, 1, 10000 * 1 // 3,
    )
    wt = rows["within_train"]
    assert (wt["n_pairs"], wt["n_holdout_docs"], wt["leak_bp"]) == (1, 0, 0)
    wh = rows["within_holdout"]
    assert (wh["n_pairs"], wh["n_holdout_docs"], wh["leak_bp"]) == (
        1, 2, 10000 * 2 // 3,
    )


def test_x15_integer_grid_is_lossless(spark, tmp_path):
    """Vectors whose coordinates are integers in [0,255], with per-dim
    min pinned to 0 and max to 255 by two anchor vectors, are FIXED
    POINTS of the int8 quantizer (code = v exactly; decode = v
    exactly — all steps representable doubles), so the quantized
    ranking must equal the exact ranking: recall@k = 1.0 and the same
    id checksum as x1's exact top-k."""
    import os

    rows = [
        (i, [float((i * 37 + d * 13) % 256) for d in range(64)], 0)
        for i in range(30)
    ]
    rows.append((100, [0.0] * 64, 0))
    rows.append((101, [255.0] * 64, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "embeddings.parquet")
    )
    sf = str(tmp_path)
    out = {r["query_id"]: r for r in x15_sq_int8_recall(spark, sf).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    exact = x1_cosine_topk(spark, sf).collect()
    exact_sum = {}
    for r in exact:
        exact_sum[r["query_id"]] = exact_sum.get(r["query_id"], 0) + r["vec_id"]
    for q, r in out.items():
        assert r["recall_at_k"] == 1.0, (q, r)
        assert r["id_checksum"] == exact_sum[q], (q, r)


def test_t17_engineered_pair_stats(spark, tmp_path):
    """'aaa bb' + 'abab': pair counts aa:2 ab:2 ba:1 bb:1. The argmax
    tie (aa vs ab, both 2) breaks lexicographically to 'aa', and
    merges_applied distinguishes overlap from application: 'aaa' has
    TWO 'aa' pair occurrences but ONE greedy application."""
    sf = write_docs(
        spark, tmp_path, [(1, "aaa bb", "en", "s"), (2, "abab", "en", "s")]
    )
    rows = t17_bpe_pair_stats(spark, sf).collect()
    got = {r["pair"]: (r["rnk"], r["pair_count"], r["merges_applied"]) for r in rows}
    assert got["aa"] == (1, 2, 1)
    assert got["ab"] == (2, 2, 2)
    assert got["ba"] == (3, 1, 1)
    assert got["bb"] == (4, 1, 1)


def test_t17_apply_merge_fold_is_greedy(spark):
    """The array-fold merge application is greedy left-to-right and
    non-overlapping; two rounds compose (full BPE training loop)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "b", "a", "b"],), (["b", "a", "a"],)],
        "syms array<string>",
    )
    one = df.select(apply_bpe_merge(F.col("syms"), "a", "a").alias("m"))
    assert [r["m"] for r in one.collect()] == [
        ["aa", "a"], ["a", "b", "a", "b"], ["b", "aa"],
    ]
    two = df.select(
        apply_bpe_merge(
            apply_bpe_merge(F.col("syms"), "a", "a"), "aa", "a"
        ).alias("m")
    )
    assert [r["m"] for r in two.collect()] == [
        ["aaa"], ["a", "b", "a", "b"], ["b", "aa"],
    ]


def test_m15_engineered_merge_and_s7_parity(spark, tmp_path):
    """Ten docs with length-coded texts: update keys {0,3,6,9}, delete
    keys {0,7} (key 0 exercises update-then-delete precedence), insert
    keys {-1,-6}. Expected post-merge state is computed by hand; the
    streaming twin must reproduce the batch rollup EXACTLY under the
    redelivered change log."""
    from mirrulations_iceberg_spark.operators.maintenance import (
        m15_cdc_merge,
    )
    from mirrulations_iceberg_spark.operators.streamq import (
        s7_stream_cdc_upsert,
    )

    rows = [(i, "x" * (10 + i), "en", "s") for i in range(10)]
    sf = write_docs(spark, tmp_path, rows)
    out = m15_cdc_merge(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    # live: base {1,2,4,5,8} untouched (70 chars), {3,6,9} updated
    # (+3 each -> 57), inserts from {0,5} ('new ' prefix -> 14+19)
    assert (r["n_docs"], r["total_chars"]) == (10, 160)
    assert (r["n_inserted"], r["n_updated"], r["n_deleted"]) == (2, 3, 2)
    s7 = s7_stream_cdc_upsert(spark, sf).collect()
    assert s7 == out


def test_w14_engineered_gapfill_locf(spark, tmp_path):
    """Two 15-minute buckets of type 'a' with a one-bucket gap between
    them: the gap row must exist with n_events=0, NULL bucket_sum, the
    previous bucket's sum carried forward, and is_gap=1. Type 'b' has
    one event -> a one-bucket grid with no gaps."""
    from datetime import datetime

    from mirrulations_iceberg_spark.operators.windows import (
        w14_gapfill_downsample,
    )

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def at(minute, second=0):
        return t0.replace(minute=minute, second=second)

    sf = _write_events_local(
        spark,
        tmp_path,
        [
            (1, at(5), 100, "a", 1.25, "{}"),
            (2, at(10), 101, "a", 2.25, "{}"),   # bucket 0: sum 3.50
            (3, at(40), 102, "a", 4.0, "{}"),    # bucket 2 (gap at 1)
            (4, at(7), 103, "b", 9.5, "{}"),     # single-bucket type
        ],
    )
    rows = w14_gapfill_downsample(spark, sf).collect()
    a = [r for r in rows if r["event_type"] == "a"]
    b = [r for r in rows if r["event_type"] == "b"]
    assert [r["n_events"] for r in a] == [2, 0, 1]
    assert [r["bucket_sum"] for r in a] == [3.5, None, 4.0]
    assert [r["locf_sum"] for r in a] == [3.5, 3.5, 4.0]
    assert [r["is_gap"] for r in a] == [0, 1, 0]
    assert [r["bucket_epoch"] - a[0]["bucket_epoch"] for r in a] == [
        0, 900, 1800,
    ]
    assert len(b) == 1 and b[0]["n_events"] == 1 and b[0]["is_gap"] == 0


def _write_events_local(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "events.parquet")
    )
    return sf


def test_e13_engineered_cluster_split(spark, tmp_path):
    """Split membership pinned by md5(doc_id) (hashlib-verified in the
    d17 test above): 1,2,6 train; 3,5,10 holdout. An exact-copy pair
    (1,3), a near-dup pair (2,5; Jaccard 0.6), and two singletons
    (6 train, 10 holdout). Cluster labels are min ids (1, 2) -> both
    pair-clusters route to train, moving holdout docs 3 and 5."""
    from mirrulations_iceberg_spark.operators.etl import (
        e13_cluster_aware_split,
    )

    t1 = "alpha bravo charlie delta echo foxtrot"
    t2 = "golf hotel india juliet kilo lima"
    t2b = "golf hotel india juliet kilo zulu"  # 3/5 shared shingles
    t4 = "sierra tango uniform victor whiskey xray"
    sf = write_docs(
        spark,
        tmp_path,
        [
            (1, t1, "en", "s"),    # train  ┐ exact pair, cluster 1
            (3, t1, "en", "s"),    # holdout┘  -> train (moved)
            (2, t2, "en", "s"),    # train  ┐ near-dup pair, cluster 2
            (5, t2b, "en", "s"),   # holdout┘  -> train (moved)
            (6, t4, "en", "s"),    # train singleton
            (10, "unique words only here", "en", "s"),  # holdout singleton
        ],
    )
    rows = {r["split"]: r for r in e13_cluster_aware_split(spark, sf).collect()}
    tr, ho = rows["train"], rows["holdout"]
    assert (tr["n_clusters"], tr["n_docs"], tr["max_cluster_docs"]) == (3, 5, 2)
    assert tr["id_checksum"] == 1 * 2 + 2 * 2 + 6 * 1
    assert tr["n_moved"] == 2  # docs 3 and 5 pulled into train
    assert (ho["n_clusters"], ho["n_docs"], ho["max_cluster_docs"]) == (1, 1, 1)
    assert ho["id_checksum"] == 10 and ho["n_moved"] == 0


def test_d18_engineered_incremental_neardup(spark, tmp_path):
    """Delta = doc_id % 5 == 0. Doc 5 is an exact copy of base doc 1
    (flagged, J=1.0); doc 10 is a near-dup of base doc 2 (4 of 5
    shingles shared, J=2/3); doc 15 is novel; doc 20 is a near-dup of
    DELTA doc 15 only — cross-frame LSH must NOT flag it (no
    delta-delta pairs). Base docs 1-4 are never reported."""
    from mirrulations_iceberg_spark.operators.dedup import (
        d18_incremental_neardup,
    )

    t1 = "alpha bravo charlie delta echo foxtrot"
    t2 = "golf hotel india juliet kilo lima mike"
    t2b = "golf hotel india juliet kilo lima zulu"  # 4/6 shingles shared
    t3 = "november oscar papa quebec romeo sierra"
    t3b = "november oscar papa quebec romeo tango"
    sf = write_docs(
        spark,
        tmp_path,
        [
            (1, t1, "en", "s"),     # base
            (2, t2, "en", "s"),     # base
            (3, "unrelated words entirely here now", "en", "s"),  # base
            (4, "more filler text goes right here", "de", "s"),   # base
            (5, t1, "en", "s"),     # delta: exact copy of base 1
            (10, t2b, "en", "s"),   # delta: near-dup of base 2
            (15, t3, "de", "s"),    # delta: novel
            (20, t3b, "de", "s"),   # delta: near-dup of DELTA 15 only
        ],
    )
    rows = {r["lang"]: r for r in d18_incremental_neardup(spark, sf).collect()}
    en, de = rows["en"], rows["de"]
    assert (en["n_delta"], en["n_flagged"], en["n_novel"]) == (2, 2, 0)
    assert en["flagged_id_checksum"] == 5 + 10
    assert en["flagged_bp"] == 10000
    assert (de["n_delta"], de["n_flagged"], de["n_novel"]) == (2, 0, 2)
    assert de["flagged_id_checksum"] == 0 and de["flagged_bp"] == 0


def test_t18_engineered_backoff_bits(spark, tmp_path):
    """Hand-computable bigram code lengths: uni a=4,b=4,c=1,x=1,y=1;
    bigrams (a,b)=4,(b,a)=2,(b,c)=1,(x,y)=1 all kept (B=4096), so
    every transition hits: (a,b)->0 bits, (b,a)->1, (b,c)->2,
    (x,y)->0. en mean = 4/7 floored half-up at 1e-4."""
    from mirrulations_iceberg_spark.operators.text import (
        t18_backoff_surprisal,
    )

    sf = write_docs(
        spark,
        tmp_path,
        [
            (1, "a b a b a b", "en", "s"),
            (2, "a b c", "en", "s"),
            (3, "x y", "de", "s"),
        ],
    )
    rows = {r["lang"]: r for r in t18_backoff_surprisal(spark, sf).collect()}
    en, de = rows["en"], rows["de"]
    assert (en["n_docs"], en["n_transitions"], en["hit_bp"]) == (2, 7, 10000)
    assert en["avg_bits_per_transition"] == 0.5714  # (2*40000+7)//14 / 1e4
    assert (de["n_docs"], de["n_transitions"], de["hit_bp"]) == (1, 1, 10000)
    assert de["avg_bits_per_transition"] == 0.0


def test_w15_engineered_ohlc(spark, tmp_path):
    """One hourly candle with a same-microsecond tie: events at
    (t+5min, id 2, v=5.0) and (t+5min, id 1, v=7.0) — the string key
    breaks the tie by event_id, so open=7.0 (id 1), close=2.0 (the
    latest event), high=7.0, low=2.0."""
    from datetime import datetime

    from mirrulations_iceberg_spark.operators.windows import (
        w15_ohlc_downsample,
    )

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    sf = _write_events_local(
        spark,
        tmp_path,
        [
            (2, t0.replace(minute=5), 100, "a", 5.0, "{}"),
            (1, t0.replace(minute=5), 101, "a", 7.0, "{}"),
            (3, t0.replace(minute=40), 102, "a", 2.0, "{}"),
        ],
    )
    rows = w15_ohlc_downsample(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["open"], r["close"], r["high"], r["low"], r["n_events"]) == (
        7.0, 2.0, 7.0, 2.0, 3,
    )


def test_j12_engineered_window_attribution(spark, tmp_path):
    """Two error windows [10:00, 12:00) and [11:00, 13:00): an event at
    11:30 falls in BOTH (2 pairs), one at 12:30 only in the second,
    one at 09:00 in neither. The error events themselves are attributed
    to their own (and each other's overlapping) windows."""
    from datetime import datetime

    from mirrulations_iceberg_spark.operators.joins import (
        j12_interval_overlap_join,
    )

    def at(h, m=0):
        return datetime(2024, 1, 1, h, m)

    sf = _write_events_local(
        spark,
        tmp_path,
        [
            (1, at(10), 100, "error", 0.0, "{}"),   # window 1 + in w1
            (2, at(11), 101, "error", 0.0, "{}"),   # window 2 + in w1, w2
            (3, at(11, 30), 102, "view", 1.0, "{}"),  # in w1 and w2
            (4, at(12, 30), 103, "click", 1.0, "{}"),  # in w2 only
            (5, at(9), 104, "view", 1.0, "{}"),     # in neither
        ],
    )
    rows = {r["event_type"]: r for r in j12_interval_overlap_join(spark, sf).collect()}
    assert rows["view"]["n_pairs"] == 2 and rows["view"]["n_events_covered"] == 1
    assert rows["view"]["id_checksum"] == 3 * 2
    assert rows["click"]["n_pairs"] == 1 and rows["click"]["id_checksum"] == 4
    # error 1 in w1; error 2 in w1 and w2 -> 3 pairs
    assert rows["error"]["n_pairs"] == 3 and rows["error"]["n_events_covered"] == 2
    assert "view" in rows and len(rows) == 3  # '5' contributes nothing


def test_e14_engineered_release_stages(spark, tmp_path):
    """Every stage drops exactly one crafted doc: delta = {5, 10, 15,
    20, 25}; 5 fails the 20-token gate; 10 and 15 are exact copies
    (15 collapses into 10); 10's text exists verbatim in base (exact
    novelty drops it); 20 is a near-dup of base doc 1 (near-novelty
    drops it); 25 is admitted and routes to holdout (md5('25')='06..'
    -> train? no: '0' < 'd' -> train)."""
    from mirrulations_iceberg_spark.operators.etl import (
        e14_release_pipeline,
    )

    base_t = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo "
        "sierra tango uniform"
    )  # 21 tokens
    near_t = base_t.replace("uniform", "victor")  # near-dup of base_t
    novel_t = (
        "zero one two three four five six seven eight nine ten "
        "eleven twelve thirteen fourteen fifteen sixteen seventeen "
        "eighteen nineteen twenty"
    )  # 21 tokens, unrelated
    dup_t = (
        "whiskey xray yankee zulu apple banana cherry dragon eagle "
        "falcon grape harbor island jungle koala lemon mango nectar "
        "orange panda quartz"
    )  # 21 tokens, also placed in base so exact-novelty drops it
    sf = write_docs(
        spark,
        tmp_path,
        [
            (1, base_t, "en", "s"),   # base
            (2, dup_t, "en", "s"),    # base (exact twin of delta 10/15)
            (5, "too short", "en", "s"),      # delta: gated out
            (10, dup_t, "en", "s"),   # delta: exact-dup of base 2
            (15, dup_t, "en", "s"),   # delta: collapses into 10
            (20, near_t, "en", "s"),  # delta: near-dup of base 1
            (25, novel_t, "en", "s"),  # delta: admitted
        ],
    )
    out = e14_release_pipeline(spark, sf)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_delta"], r["n_gated"], r["n_exact"], r["n_novel"]) == (
        5, 4, 3, 2,
    )
    assert (r["n_admitted"], r["id_checksum"]) == (1, 25)
    import hashlib

    expect_train = hashlib.md5(b"25").hexdigest()[0] < "d"
    assert r["n_train"] == (1 if expect_train else 0)
    assert r["n_holdout"] == (0 if expect_train else 1)
    assert r["admitted_tokens"] == 21
    assert documents_oracle_mismatch(sf, "e14_release_pipeline", out) is None


def test_j13_engineered_midnight_merges(spark, tmp_path):
    """Two cross-midnight chains: [23:30 d1, 01:30) merges with
    [01:00 d2, 03:00) -> episode 23:30->03:00 (12600 s); [23:45 d2,
    01:45) merges with [00:30 d3, 02:30) -> 23:45->02:30 (9900 s).
    Day-level islands count 4, global 2 -> 2 boundary merges."""
    from datetime import datetime

    from mirrulations_iceberg_spark.operators.joins import (
        j13_interval_coalesce,
    )

    def at(d, h, m=0):
        return datetime(2024, 1, d, h, m)

    sf = _write_events_local(
        spark,
        tmp_path,
        [
            (1, at(1, 23, 30), 100, "error", 0.0, "{}"),
            (2, at(2, 1, 0), 101, "error", 0.0, "{}"),
            (3, at(2, 23, 45), 102, "error", 0.0, "{}"),
            (4, at(3, 0, 30), 103, "error", 0.0, "{}"),
            (5, at(2, 12, 0), 104, "view", 1.0, "{}"),  # not a window
        ],
    )
    rows = j13_interval_coalesce(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_windows"], r["n_episodes"], r["n_boundary_merges"]) == (
        4, 2, 2,
    )
    assert r["covered_s"] == 12600 + 9900
