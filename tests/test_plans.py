"""Plan-shape regression tests: the scale properties the code claims
(broadcasts, column pruning, single exchanges, no accidental
cartesians) asserted on the physical plans so they can't silently
regress."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from mirrulations_iceberg_spark.operators import collect_queries

from .conftest import SF_DIR

QUERIES, _ = collect_queries()

#: Queries that intentionally cross-join a broadcast side (similarity
#: brute-force / probe ranking; j7's broadcast range join):
#: BroadcastNestedLoopJoin is the point.
CROSS_JOIN_OK = {
    "x1_cosine_topk",
    "x2_ann_lsh_topk",
    "x5_ann_ivf_topk",
    "j7_range_join",
    "t7_tfidf_top_terms",  # broadcast 1-row corpus count
    "a5b_approx_stats",  # broadcast 1-row sketch row for the rank audit
    "x8_range_search",  # broadcast bounded query set over the corpus scan
    "t12_vocab_growth",  # broadcast 1-row n_docs for decile bucketing
    "t13_unigram_logprob",  # broadcast 1-row total-token count
    "t18_backoff_surprisal",  # broadcast 1-row total (t13's pattern)
    "a15_exact_quantile_twopass",  # 3 target ranks × bounded histogram
    "o9_weighted_sample",  # broadcast 1-row w_max for the threshold compare
    "w13_sequence_with_negation",  # three 1-row stage counts joined into the summary
    "x13_lsh_recall_curve",  # 4-row sweep levels + 1-row exact-count broadcast
    "o14_walk_forward_folds",  # broadcast K-row fold spec over the events scan
    "o13_group_kfold_split",  # broadcast 1-row total for the share denominator
}

#: Queries that run their own jobs / driver-side work during
#: construction (writers, ML fit) — plan string still checked, but they
#: are slow; keep the sweep to declarative queries plus these few.
SKIP_SWEEP = {
    "m1_codec_benchmark",
    "m1b_codec_sizes",
    "m2_storage_efficiency",
    "m2b_column_sizes",
    "m3_delta_append",
    "m4_compaction",
    "m11_time_travel",  # writes snapshots + manifests at construction
    "s13_schema_evolution",
    "e1_docket_pipeline",
    "x5_ann_ivf_topk",
    "s1_stream_windowed_counts",  # runs a streaming job at construction
    "s2_incremental_ingest",  # runs the full ingest lifecycle
    "m9_partition_overwrite",  # runs write jobs at construction
    "s3_stream_sessions",  # runs a streaming job at construction
    "x7_ann_partitioned_index",  # writes + reads a scratch index
    "x19_ivfpq_build_serve",  # writes + reads the IVFPQ artifacts
    "g2_csv_roundtrip",  # sink→source round trips run write jobs
    "g3_jsonl_roundtrip",
    "g4_orc_roundtrip",
    "m12_vacuum_orphans",  # commit writes + vacuum at construction
    "m19_snapshot_diff",  # snapshot writes + manifest diff at construction
    "e16_incremental_card",  # caches the tokenize projection + materializes
    "e17_changelog_card_refresh",  # snapshot writes + IVM merge at construction
    "mm6_phash_neardup",  # caches the hash lanes + materializes
    "x9_pq_adc_topk",  # runs the codebook fit at construction
    "d13_semdedup",  # runs the shared Lloyd fit at construction
    "x10_mmr_select",  # runs the shortlist scan + greedy loop at construction
    "j10_bucketed_colocated_join",  # writes bucketed tables at construction
    "x11_ivf_tuning_curve",  # runs the shared Lloyd fit at construction
    "f1b_indexed_substring",  # writes the token index at construction
    "m13_preflight_report",  # runs Hadoop-FS probes at construction
    "x12_knn_graph",  # caches + materializes the graph at construction
    "f1c_index_refresh",  # writes base+delta index at construction
    "x14_cluster_balanced_sample",  # runs the shared Lloyd fit + collect
    "d16_cluster_best_select",  # LSH pair gen + iterative components
    "t16_source_overlap",  # caches + materializes the posting set
    "x13_lsh_recall_curve",  # caches + materializes the bucket projection
    "d17_split_leakage",  # collapse + LSH pair gen + materialize
    "x15_sq_int8_recall",  # collects the 64-row quantizer fit + materializes
    "x22_binary_hamming_topk",  # collects the 64-row midrange fit + materializes
    "t17_bpe_pair_stats",  # caches + materializes the vocab table
    "s7_stream_cdc_upsert",  # runs a streaming job at construction
    "e13_cluster_aware_split",  # LSH pair gen + iterative components
    "d18_incremental_neardup",  # caches signatures + materializes
    "m16_layout_scatter_report",  # writes two partitioned layouts
    "m18_zorder_design",  # collects bounded stats at construction
    "e14_release_pipeline",  # caches base reps + LSH sigs, materializes
    "j13_interval_coalesce",  # collects the day summary at construction
    "j14_episode_attribution",  # collects the day summary (stitch input)
    "d15b_exact_substring_cut",  # caches the tokenize pass + materializes
    "x16_graph_community_dedup",  # kept-edge cache + iterative components
    "t17b_bpe_train_iters",  # N count->select->apply rounds at construction
    "x17_pq_rerank_topk",  # codebook fit + shortlist cache + materializes
    "x18_ivfpq_topk",  # PQ + IVF fits at construction + materializes
    "x18b_ivfpq_residual_topk",  # IVF + 2 PQ fits + materializes
    "x20_filtered_ann_topk",  # IVF + PQ fits + materializes
    "x21_ivfpq_upsert_topk",  # base-subset IVF + PQ fits + materializes
    "d20_minhash_source_sketch",  # caches shingles + posting set
    "t20_bpe_encode_corpus",  # N train rounds at construction
    "s8_stream_cusum",  # runs a streaming job at construction
    "e18_dsir_resample",  # distribution fit + bucket walk at construction
    "mm8_audio_fingerprint_neardup",  # caches clusters + materializes
    "e19_filter_ablation",  # collects the 1-row flag aggregate
    "t23_char_ngram_langid",  # trains the gram model at construction
    "e19b_filter_threshold_sweep",  # collects the 61-sum sweep row
    "t24_predlang_dataset_card",  # trains t23's model at construction
}


def _plan(spark, name: str) -> str:
    return (
        QUERIES[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_no_accidental_cartesian_products(spark):
    for name in sorted(set(QUERIES) - SKIP_SWEEP):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in CROSS_JOIN_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_star_join_broadcasts_all_dimensions(spark):
    plan = _plan(spark, "j1_broadcast_star_join")
    assert plan.count("BroadcastHashJoin") == 3
    assert plan.count("Exchange hashpartitioning") == 1  # only the agg
    # column pruning reaches the fact scan: only the 2 needed columns
    assert "ReadSchema: struct<o_custkey:bigint,o_totalprice:double>" in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "f1_like_substring")
    assert "PushedFilters: [IsNotNull(text), StringContains(text,hash)]" in plan


def test_sessionize_plans_single_exchange(spark):
    """w5's two windows share ordering: one exchange + agg exchange."""
    plan = _plan(spark, "w5_sessionize")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_projection_queries_have_no_exchange(spark):
    """t2/t3/t8 are pure per-row projections — any Exchange is a bug."""
    for name in ("t2_quality_score", "t3_fingerprint", "t8_repetition_ratio"):
        assert "Exchange" not in _plan(spark, name), name


def test_t21_chunking_never_shuffles_by_key(spark):
    """t21 is projection + Generate: no hash or range exchange (no
    groupBy/join/sort) may appear. The only allowed Exchange is
    parallelize_scan's fixture-only RoundRobin fan-out, which is a
    no-op on a production multi-row-group layout."""
    plan = _plan(spark, "t21_chunk_documents")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Generate explode" in plan


def test_w16_single_events_scan(spark):
    """w16's review-r13 contract: the train moments ride windows on
    the SAME ranked lineage — one events scan, one rollup exchange,
    one window exchange. A regression to the groupBy-train +
    join-back draft doubles the scan count."""
    plan = _plan(spark, "w16_cusum_changepoint")
    assert plan.count("events.parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_w17_single_events_scan(spark):
    """w17's contract: one events scan into the (type, day) rollup;
    the day-rank window and BOTH conditional medians run on the design
    table — the rollup exchange, the per-type rank exchange, and one
    (type, dow) exchange shared by the two median windows. A
    join-back baseline (groupBy train + rejoin) would re-scan events."""
    plan = _plan(spark, "w17_seasonal_robust_anomaly")
    assert plan.count("events.parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 3


def test_e15_single_expand_pass(spark):
    """e15's GROUPING SETS levels come from ONE Expand over one scan —
    not three scans unioned."""
    plan = _plan(spark, "e15_dataset_card")
    assert plan.count("documents.parquet") == 1
    assert plan.count("Expand") >= 1


def test_topk_uses_window_group_limit(spark):
    assert "WindowGroupLimit" in _plan(spark, "x1_cosine_topk")
    assert "WindowGroupLimit" in _plan(spark, "t7_tfidf_top_terms")
    # o10's scale claim: rank<=k rewrites to per-partition top-k, so a
    # skewed stratum never sorts corpus-sized input before the exchange
    assert "WindowGroupLimit" in _plan(spark, "o10_stratified_quota_sample")


def test_t11_model_ranks_limited_and_broadcast(spark):
    """t11's per-language top-K must pre-trim map-side
    (WindowGroupLimit) and the resulting model must broadcast onto the
    exploded corpus, never shuffle it."""
    plan = _plan(spark, "t11_bigram_coverage")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_broadcasts_interval_side(spark):
    """j7's interval side is 3 derived rows: it must broadcast (the
    fact side streams through unshuffled), never sort-merge."""
    plan = _plan(spark, "j7_range_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ntile_has_no_global_window(spark):
    """w7's decile ranking must never force Exchange SinglePartition:
    the distributed two-phase rank keeps every window partitioned."""
    plan = _plan(spark, "w7_ntile_deciles")
    assert "SinglePartition" not in plan
    assert "ntile" not in plan  # closed-form bucket math, not the fn


def test_epoch_shuffle_no_global_sort(spark):
    """e7's permutation summary must stay fully partitioned (the
    ordering is pinned by key arithmetic, never a global sort) and
    read ONLY doc_id — the key column is derived, not stored."""
    plan = _plan(spark, "e7_epoch_shuffle")
    assert "SinglePartition" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_limits_plan_take_ordered(spark):
    """Tie-broken orderBy+limit must plan TakeOrderedAndProject, not a
    global sort."""
    plan = _plan(spark, "o2_top_dates")
    assert "TakeOrderedAndProject" in plan


def test_cube_plans_single_scan_expand(spark):
    """a12b's four grouping sets must come from ONE scan + Expand, not
    a union of four aggregates."""
    plan = _plan(spark, "a12b_cube")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_pivot_is_single_pass(spark):
    """a13's explicit value list means no separate distinct-values job:
    one scan feeding the (cohort,type) pre-agg + cohort pivotfirst
    exchanges — never a second pass over the input."""
    plan = _plan(spark, "a13_pivot")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_e2_pipeline_no_sort_merge_self_join(spark):
    """The composite pipeline keeps d2's group-and-pair shape for its
    near-dup stage: anti-joins broadcast, no SMJ self-join."""
    plan = _plan(spark, "e2_training_pipeline")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_benchmark(spark):
    """d9's benchmark-shingle side is tiny by construction: it must
    broadcast (corpus streams through a BroadcastHashJoin LeftSemi),
    never sort-merge."""
    plan = _plan(spark, "d9_decontaminate")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("name", ["d2_ngram_jaccard_pairs_diag", "d3_minhash_lsh_pairs", "d5_simhash_pairs"])
def test_dedup_has_no_self_join(spark, name):
    """Group-and-pair formulation: near-dup pair generation must not
    plan a join at all before the verify stage (d3's verify joins the
    cached signatures — hash joins there are fine; d2/d5 have none)."""
    plan = _plan(spark, name)
    assert "SortMergeJoin" not in plan, name


def test_w9_prunes_event_scan_to_two_columns(spark):
    """w9 touches only ts/user_id of the 6-column events table — the
    projection must reach both scans (ReadSchema), or a 100 TB run
    reads props/value bytes it never uses."""
    import re

    plan = _plan(spark, "w9_users_to_date")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"ts", "user_id"}, s


def test_mm5_resize_is_pure_projection(spark):
    """mm5's thumbnail pipeline (scan → filter → mapInPandas → checksum
    projection) must introduce no data-dependent shuffle: no hash or
    range exchange anywhere — the only allowed exchange is
    parallelize_scan's round-robin fixture-spread, which a real
    multi-file corpus scan wouldn't need."""
    plan = _plan(spark, "mm5_resize_thumbs")
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "MapInPandas" in plan


def test_j9_runtime_bloom_filter_regime(spark):
    """j9's at-scale plan: with broadcast off and the bloom
    application-side size gate lowered (the conditions a 100 TB
    fact-fact join meets naturally), Spark must inject the runtime
    bloom filter — bloom_filter_agg over the filtered build side,
    might_contain pushed into the probe scan — and the result must
    equal the natural (locally broadcast) plan's."""
    natural = QUERIES["j9_bloom_pruned_join"](spark, SF_DIR).collect()
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        df = QUERIES["j9_bloom_pruned_join"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, natural))
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_t13_model_join_is_broadcast(spark):
    """t13's unigram model and total-token count must ride as
    broadcasts onto the exploded corpus — a SortMergeJoin here would
    shuffle every token row at 100 TB."""
    plan = _plan(spark, "t13_unigram_logprob")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_a15_scan_prunes_to_value_column(spark):
    """a15 reads exactly one column of documents; no global sort of the
    corpus exists — the only rangepartitioning exchange is the terminal
    3-row quantile ordering."""
    plan = _plan(spark, "a15_exact_quantile_twopass")
    assert "ReadSchema: struct<n_chars:bigint>" in plan
    assert plan.count("Exchange rangepartitioning") <= 1


def test_d10_shuffles_carry_no_text(spark):
    """d10's 100 TB claim (PLANS.md): both sides reduce to fingerprints
    before the anti-join, so document text never crosses an exchange —
    tokenize+md5 are evaluated scan-side and every Exchange row set is
    fingerprint/lang/ids only."""
    plan = _plan(spark, "d10_incremental_dedup")
    exchange_lines = [
        l for l in plan.splitlines() if "Exchange" in l and "Reused" not in l
    ]
    assert exchange_lines, "expected at least one exchange in d10"
    for line in exchange_lines:
        assert "text" not in line, line
    # the anti-join itself is on the 32-char fingerprint
    assert "LeftAnti" in plan


def test_d14_benchmark_set_broadcasts(spark):
    """d14's gram join must be a broadcast of the benchmark-sized set,
    never a corpus-vs-corpus SortMergeJoin."""
    plan = _plan(spark, "d14_contamination_grade")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_t15_has_exactly_two_shuffles(spark):
    """t15 = word-count exchange + bounded band rollup; anything more
    means the spectrum started shuffling the corpus twice."""
    plan = _plan(spark, "t15_freq_spectrum")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan


def test_e9_stages_share_one_delta_pass(spark):
    """e9's admission stages are flags on one delta frame, so every
    documents scan is tokenized once and no stage re-derives the delta:
    5 scans in the plan before execution (9 once AQE has run it). The
    frame-per-stage shape planned 10 scans and 18 tokenizer calls."""
    plan = _plan(spark, "e9_refresh_pipeline")
    scans = plan.count("documents.parquet")
    assert scans <= 5
    assert plan.count("regexp_extract_all") == scans


def test_e8_single_corpus_pass(spark):
    """e8's only corpus-wide exchange is the per-source partial agg;
    the unbounded window runs on the |sources|-row rollup (one
    SinglePartition exchange over dimension-bounded rows)."""
    plan = _plan(spark, "e8_temperature_mixture")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1


def test_e19b_sweep_is_one_aggregate(spark):
    """e19b's whole scale claim: the per-doc stats are a PURE
    PROJECTION (size / fold / sorted-run-length — no (doc, tok)
    explode shuffle, no spine join) and every (rule, theta) grid
    point rides ONE map-side-combined aggregate. The only exchange in
    the whole operator is the SinglePartition carrying one partial
    row per task; one column-pruned scan feeds it. Widening the grid
    must never add an exchange, a join, or a scan."""
    from mirrulations_iceberg_spark.operators.etl import _e19b_stats_agg

    plan = (
        _e19b_stats_agg(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 1


def test_t24_card_plan_shape(spark):
    """t24 adds exactly one corpus-sized shuffle beyond t23's scoring
    (the doc-keyed card×pred equi-join): the model stays a broadcast
    join, grouping sets appear as Expand, and nothing degenerates to
    a cartesian."""
    plan = _plan(spark, "t24_predlang_dataset_card")
    assert "Expand" in plan
    assert "BroadcastHashJoin" in plan  # the wide gram model
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_f1b_answers_without_reading_text(spark, tmp_path):
    """f1b's whole point at 100 TB: the substring query is answered
    from the inverted index — the documents scan must read only
    (doc_id, lang, n_chars), never the corpus text column, and the
    index lookup must reach the index scan as pushed StringContains
    filters on the narrow token columns."""
    from mirrulations_iceberg_spark.operators.relational import (
        indexed_substring_search,
    )
    from mirrulations_iceberg_spark.operators.text import build_token_index
    from mirrulations_iceberg_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    idx_path = str(tmp_path / "idx")
    build_token_index(docs, with_original=True).write.parquet(idx_path)
    q = indexed_substring_search(docs, spark.read.parquet(idx_path))
    plan = q._jdf.queryExecution().executedPlan().toString()
    # documents side: 3-column slice, no text
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan
    # column refs render as `text#NN` / `text:string` — neither may appear
    assert "text#" not in plan and "text:" not in plan, (
        "corpus text column leaked into the f1b plan"
    )
    # index side: candidate+verify pushed to the index scan
    assert "StringContains(token,hash)" in plan
    assert "Contains(token_orig" in plan  # pushed-filter list is truncated
    # verified doc_ids ride as a broadcast semi join
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_d15_shuffles_carry_no_window_text(spark):
    """d15's 100 TB claim: every window reduces to its md5 scan-side,
    so no Exchange row set carries window text (or the source text
    column) — the d1/d10 fingerprint discipline, and no self-join."""
    plan = _plan(spark, "d15_exact_substring_spans")
    exchange_lines = [
        l for l in plan.splitlines() if "Exchange" in l and "Reused" not in l
    ]
    assert exchange_lines, "expected exchanges in d15"
    for line in exchange_lines:
        assert "text" not in line and " w#" not in line, line


def test_m16_clustered_layout_prunes_partitions(spark, tmp_path):
    """m16's clustering payoff, plan-asserted: a probe-key filter on
    the key-clustered layout resolves to PartitionFilters (directory
    pruning — no data files of other keys are opened), while the same
    filter on the hash-scattered layout reaches every placement unit
    as a plain data filter."""
    from mirrulations_iceberg_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    clus = str(tmp_path / "clustered")
    docs.write.partitionBy("lang").parquet(clus)
    q = spark.read.parquet(clus).filter("lang = 'en'")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # the pruned scan must not re-check lang row-by-row
    assert "PushedFilters: []" in plan or "EqualTo(lang" not in plan


def _plan_nodes(plan: str) -> list[tuple[str, list[str]]]:
    """(node text, ancestor texts root-first) for each line of a
    ``treeString``: a node at depth d > 0 is prefixed by d-1 three-char
    ``":  "``/``"   "`` groups and a ``"+- "``/``":- "`` marker."""
    import re

    nodes, stack = [], []
    for line in plan.splitlines():
        m = re.match(r"((?:[ :]{3})*)[+:]- (.*)", line)
        depth, text = (len(m.group(1)) // 3 + 1, m.group(2)) if m else (0, line)
        del stack[depth:]
        nodes.append((text, list(stack)))
        stack.append(text)
    return nodes


def test_ivfpq_serve_windows_share_one_exchange(spark):
    """The routed IVFPQ serve (x18/x19/x21) ranks by ADC and counts
    candidates in two windows on the same ``query_id`` key: outside the
    broadcast probe table (whose probe ranking has its own small
    exchange) the serve plans exactly ONE ``hashpartitioning(query_id)``
    exchange, and both windows sit above it with no other exchange in
    between. x18 materializes its result, so its query-level plan
    cannot show this; the serve frame is built here on a 12-row
    input."""
    import random

    from mirrulations_iceberg_spark.operators.similarity import (
        EMB_DIM,
        PQ_M,
        PQ_SUBDIM,
        _center_rows_lit,
        _ivf_assign_cell_col,
        _ivfpq_serve,
        _pq_code_col,
        _pq_rows_to_cb_lit,
    )

    rng = random.Random(7)

    def vec(n):
        return [rng.uniform(-1.0, 1.0) for _ in range(n)]

    emb = spark.createDataFrame(
        [(i, vec(EMB_DIM)) for i in range(12)], "vec_id long, e array<double>"
    )
    center_rows = [(c, vec(EMB_DIM)) for c in range(3)]
    centers = spark.createDataFrame(center_rows, "cell int, center array<double>")
    cb_lit = _pq_rows_to_cb_lit(
        [(m, c, vec(PQ_SUBDIM)) for m in range(PQ_M) for c in range(2)]
    )
    index = emb.select(
        "vec_id",
        _pq_code_col(cb_lit).alias("code"),
        _ivf_assign_cell_col(_center_rows_lit(center_rows)).alias("cell"),
    )
    served = _ivfpq_serve(emb, index, centers, cb_lit)
    nodes = _plan_nodes(served._jdf.queryExecution().executedPlan().toString())
    serve_ex = [
        above
        for text, above in nodes
        if text.startswith("Exchange hashpartitioning(query_id")
        and not any(a.startswith("BroadcastExchange") for a in above)
    ]
    assert len(serve_ex) == 1, nodes
    above = serve_ex[0]
    assert not any(a.startswith("Exchange") for a in above), above
    assert any(
        a.startswith("Window [row_number()") and "adc" in a for a in above
    ), above
    assert any(a.startswith("Window [count(1)") for a in above), above


#: ``read.parquet(<args>).schema``, across lines and one level of nested
#: parentheses in the arguments.
_SCHEMA_PROBE = re.compile(r"read\.parquet\((?:[^()]|\([^()]*\))*\)\s*\.schema\b")


def test_parquet_schema_is_the_one_schema_probe():
    """Only ``tables.parquet_schema`` infers a parquet schema: any other
    ``read.parquet(...).schema`` pays Spark's inference job on every
    call instead of once per file version."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mirrulations_iceberg_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "tables.py":
            continue
        text = path.read_text()
        for m in _SCHEMA_PROBE.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            offenders.append(f"{path.relative_to(pkg)}:{line}")
    assert not offenders, offenders


_CONF_SET = re.compile(r"\.conf\.set\(")


def test_session_conf_is_written_only_where_documented():
    """An action never writes its caller's session conf: a query that
    another thread plans meanwhile in the same session would plan under
    the written value. Session conf is set only where a session is
    built (``session.py``), by the Iceberg catalog registration
    (``operators/iceberg.py``), by the events-read pin (``tables.py``)
    and on a clone inside ``util.scoped_session``."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mirrulations_iceberg_spark"
    allowed = {"session.py", "operators/iceberg.py", "tables.py"}
    util = (pkg / "operators" / "util.py").read_text()
    start = util.find("def scoped_session(")
    helper = range(start, util.find("\ndef ", start)) if start >= 0 else range(0)
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel in allowed:
            continue
        text = path.read_text()
        for m in _CONF_SET.finditer(text):
            if rel == "operators/util.py" and m.start() in helper:
                continue
            line = text.count("\n", 0, m.start()) + 1
            offenders.append(f"{rel}:{line}")
    assert not offenders, offenders


_THREAD_START = re.compile(r"ThreadPoolExecutor\(|threading\.Thread\(")


def test_threads_start_only_through_the_helper():
    """Package code starts a thread only in ``session.run_concurrently``,
    which hands each thread its caller's job group, local properties
    and tags: a plain thread's jobs run unlabelled, invisible to a
    job-group count or profile."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mirrulations_iceberg_spark"
    helper = next(
        node
        for node in ast.parse((pkg / "session.py").read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "run_concurrently"
    )
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        text = path.read_text()
        for m in _THREAD_START.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            if rel == "session.py" and helper.lineno <= line <= helper.end_lineno:
                continue
            offenders.append(f"{rel}:{line}")
    assert not offenders, offenders


#: The in-group pair builder (an index lambda whose body is the inner
#: transform over the rest of the group) and the star explode of every
#: member past the group minimum.
_PAIR_BUILDER = re.compile(
    r"lambda\s+\w+\s*,\s*\w+\s*:\s*F\.transform\(|F\.slice\([^,]+,\s*2\s*,"
)


def test_bucket_pairs_is_the_one_pair_generator():
    """Near-dup candidates come from inside a group only through
    ``dedup.bucket_pairs``: one home for the sorted group array, the
    hot-group cap and the pair or star explode, so a cap-drop counter
    or a change to the pairing rule lands in one place."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mirrulations_iceberg_spark"
    dedup = pkg / "operators" / "dedup.py"
    helper = next(
        (
            range(node.lineno, node.end_lineno + 1)
            for node in ast.parse(dedup.read_text()).body
            if isinstance(node, ast.FunctionDef) and node.name == "bucket_pairs"
        ),
        range(0),
    )
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        for m in _PAIR_BUILDER.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            if path == dedup and line in helper:
                continue
            offenders.append(f"{path.relative_to(pkg).as_posix()}:{line}")
    assert not offenders, offenders


#: Oracle SQL texts with one home each: (text, file, fragment).
_ORACLE_FRAGMENTS = (
    ("t[i] || ' ' || t[i+1] || ' ' || t[i+2]", "dedup.py", "_ngram_concat"),
    ("list_transform(embedding, x -> CAST(x AS DOUBLE))", "similarity.py", "_emb_cte"),
    ("FROM isamp ORDER BY s, vec_id LIMIT", "similarity.py", "_ivf_fit_ctes"),
    ("THEN (1 << CAST(bb AS INT))", "similarity.py", "_srp_bucket_sql"),
    ('lambda a, b: F.struct(a.alias("lft"), b.alias("rgt"))', "text.py", "_bpe_train"),
    (r"regexp_replace(tok, '(.)', '(\\1)', 'g')", "text.py", "_bpe_chain_sql"),
    ("SUM(LENGTH(tok) * c) AS alpha", "etl.py", "_e19_stats_ctes"),
)


def test_oracle_fragments_have_one_home():
    """The DuckDB oracles' shared building blocks (the shingle window,
    the embedding cast, the IVF fit replay, the SRP sign-bit bucket, the
    BPE boundary wrap, the e19 per-document stats) are written once, in
    the fragment generated from the Spark side's constants, so an oracle
    cannot drift from its constant or its siblings. The BPE trainers'
    pair builder has one home too: the shared round loop."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mirrulations_iceberg_spark"
    offenders = []
    for text, home_file, home in _ORACLE_FRAGMENTS:
        home_path = pkg / "operators" / home_file
        home_lines = next(
            (
                range(node.lineno, node.end_lineno + 1)
                for node in ast.parse(home_path.read_text()).body
                if isinstance(node, ast.FunctionDef) and node.name == home
            ),
            range(0),
        )
        for path in sorted(pkg.rglob("*.py")):
            for line_no, line in enumerate(path.read_text().splitlines(), 1):
                if text in line and not (path == home_path and line_no in home_lines):
                    offenders.append(f"{home}: {path.relative_to(pkg).as_posix()}:{line_no}")
    assert not offenders, offenders
