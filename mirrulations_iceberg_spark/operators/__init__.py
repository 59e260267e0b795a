"""Named query/operator surface.

Each submodule exposes two module-level dicts:

* ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]`` —
  DataFrame implementations, one per operator row in ``SURVEY.md §2``.
* ``ORACLE: dict[str, str]`` — equivalent ANSI SQL for DuckDB
  differential checking (absent for non-SQL-expressible operators).

Conventions that keep the DuckDB differential check meaningful:

* every computed column is aliased identically on both sides;
* every ``LIMIT`` is preceded by a total order (explicit tie-breakers) so
  both engines select the same rows;
* floating-point **sums** go through ``DECIMAL(18,2)`` (exact,
  order-independent) and are cast back to double; floating-point
  **means/ratios** are ``ROUND``-ed (division by n makes the error
  negligible); min/max/median/count are exact and left untouched;
* **ratios of small integers** avoid double ``ROUND`` entirely — on an
  exact half (627/800) Spark's HALF_UP-on-decimal-repr, DuckDB's
  round(x·10⁴)-in-binary, and Python's banker's round give three
  different answers — and use integer basis points instead:
  ``(10000 * a) DIV b`` (Spark) == ``(10000 * a) // b`` (DuckDB);
* an oracle building block used by more than one oracle (the n-gram
  window, the token/shingle/pair CTEs, the embedding cast and norm,
  the SRP bucket, the IVF fit replay) is one shared SQL fragment,
  generated from the same constants as its Spark-side step and kept
  next to it (``dedup._ngram_sql``, ``similarity._ivf_fit_ctes``, ...);
  oracles compose fragments and never restate them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: The first 50 entries of ``queries()`` (insertion order) are the
#: driver's correctness window: exactly 50 oracle-bearing names that
#: span every operator family, never-green and code-changed queries
#: first, then the stalest greens from ``scripts/ledger.py``. Rotation
#: history lives in LEDGER.md and the VERDICTs.
DRIVER_WINDOW = (
    # --- NEW round-16 operators (oracle-bearing, never checked;
    #     forced in by the rotation-queue rule). mm9 (VERDICT r15 #7,
    #     optional) was SKIPPED on the window budget: with 2 new + 2
    #     changed the round affords exactly 24 r12-stale slots and the
    #     staleness debt (VERDICT r15 #3/#4 history) outranks an
    #     optional composition.
    "e19b_filter_threshold_sweep",  # e19 swept: kill/unique/ensemble per (rule, theta)
    "t24_predlang_dataset_card",    # e15 card keyed on t23's argmax + agreement bp
    # --- code changed in round 16: re-verify at the driver
    "e18_dsir_resample",          # offset-headroom guard on the cscore collect (ADVICE r15)
    "t23_char_ngram_langid",      # scoring factored into t23_pred_frame (t24's swap point)
    # --- ALL 22 r11-stale greens (VERDICT r15 item #1's list,
    #     verified against the regenerated LEDGER.md at r16 open)
    "d13_semdedup",
    "d15b_exact_substring_cut",
    "d19_duplicate_reweight",
    "e7_epoch_shuffle",
    "f1_like_substring",
    "j13_interval_coalesce",
    "j14_episode_attribution",
    "m10_skew_report",
    "m11_time_travel",
    "mm3_frame_sample",
    "o7_stratified_sample",
    "q1_count_total",
    "q3_with_attachments",
    "q8_complex_filter",
    "q9_comments_per_document",
    "s1_stream_windowed_counts",
    "s6_stream_base_dedup",
    "t1_token_stats",
    "x11_ivf_tuning_curve",
    "x12_knn_graph",
    "x14_cluster_balanced_sample",
    "x16_graph_community_dedup",
    # --- 24 of the 47 r12-stale greens (family-spread picks; the 23
    #     left out head r17's queue, each with same-family siblings
    #     in-window or green <= 2 rounds ago per the ledger:
    #     a13/a15/a5b <- a-family r15 greens; d12/d2b/d3b/d5/d6 <-
    #     d2/d4/d13 in-window; o8 <- o7; t8/t12/t17b <- t1/t23;
    #     w6/w8-w11 <- w1/w3; x17/x18/x18b/x19/x4/x4b <- x1/x3/x8/x9)
    "e2_training_pipeline",       # flagship
    "e3_shard_assign",
    "w1_topn_per_group",
    "w3_lag_delta",
    "s4_stream_dedup",
    "t5_lang_profile",
    "t7_tfidf_top_terms",
    "t9_token_counts",
    "t10_pii_redact",
    "u4_except_all",
    "u5_intersect_all",
    "x1_cosine_topk",
    "x3_label_centroid_sim",
    "x8_range_search",
    "x9_pq_adc_topk",
    "g2_csv_roundtrip",
    "g3_jsonl_roundtrip",
    "g4_orc_roundtrip",
    "mm1_media_manifest",
    "mm4_audio_rms",
    "mm5_resize_thumbs",
    "m12_vacuum_orphans",
    "d2_ngram_jaccard_pairs_diag",
    "d4_simhash",
)


def collect_queries() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Merge QUERIES/ORACLE from every operator module.

    Entries named in :data:`DRIVER_WINDOW` come first (in that order);
    the rest follow in module order.
    """
    from . import (
        dedup,
        etl,
        joins,
        maintenance,
        multimodal,
        relational,
        similarity,
        streamq,
        text,
        windows,
    )

    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for mod in (
        relational,
        joins,
        windows,
        text,
        dedup,
        similarity,
        maintenance,
        etl,
        multimodal,
        streamq,
    ):
        q = getattr(mod, "QUERIES", {})
        o = getattr(mod, "ORACLE", {})
        dup = set(q) & set(queries)
        if dup:
            raise ValueError(f"duplicate query names: {dup}")
        queries.update(q)
        oracle.update(o)
    missing = [n for n in DRIVER_WINDOW if n not in queries]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names unknown queries: {missing}")
    ordered = {n: queries[n] for n in DRIVER_WINDOW}
    ordered.update((n, f) for n, f in queries.items() if n not in ordered)
    return ordered, oracle
